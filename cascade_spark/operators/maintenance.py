"""Topic maintenance — compaction and schema evolution.

Streaming parquet appends produce many small files (every micro-batch ×
every partition) — the classic operational problem of a log-structured
sink at scale. ``compact_topic`` rewrites a topic directory into few
large files without changing its contents; readers see identical rows.

Schema evolution: new producer fields appear as extra columns; readers
use ``mergeSchema`` so old files surface the new column as NULL (the
intended forward-compatible form of the reference's fixed proto schema).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def compact_topic(
    spark: SparkSession, topic_dir: str, target_files: int = 4
) -> tuple[int, int]:
    """Rewrite ``topic_dir`` into ``target_files`` parquet files.
    Returns (files_before, files_after). Content-preserving: same rows,
    same schema. At 100 TB this runs per-partition-directory with a
    file-count/size trigger, not whole-topic."""
    import glob

    before = len(glob.glob(f"{topic_dir}/*.parquet"))
    df = spark.read.parquet(topic_dir)
    tmp = topic_dir.rstrip("/") + "_compacting"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    # atomic-ish swap (local fs): validate row count before replacing
    n_before, n_after = df.count(), spark.read.parquet(tmp).count()
    if n_before != n_after:  # pragma: no cover - safety net
        raise RuntimeError(f"compaction row mismatch: {n_before} != {n_after}")
    import shutil

    shutil.rmtree(topic_dir)
    shutil.move(tmp, topic_dir)
    after = len(glob.glob(f"{topic_dir}/*.parquet"))
    return before, after


from pyspark.sql import functions as F  # noqa: E402

from cascade_spark import store  # noqa: E402
from cascade_spark.plans.registry import register  # noqa: E402
from cascade_spark.operators._util import d2, dec, t  # noqa: E402

_CUTOFF = "2024-01-25"  # fixture events span 2024-01-01 .. 2024-01-30


@register(
    "rollup_incremental_refresh",
    doc="Incremental continuous-aggregate refresh (hypertable-style "
    "materialized rollup): the maintained daily rollup (events before "
    f"{_CUTOFF}) is merged with the new slice's partial aggregate by "
    "re-aggregating partials — COUNT and decimal SUM are algebraically "
    "mergeable, so the refresh touches only the delta, never the "
    "history. Oracle = full recompute; exact equality because partials "
    "accumulate in DECIMAL (order-independent). At 100 TB the base "
    "rollup is a stored table of |days| rows and each refresh scans "
    "one day's partition.",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
ORDER BY day
""",
)
def rollup_incremental_refresh(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    cutoff = F.lit(_CUTOFF)
    # the "materialized" base rollup a production system would read back
    base = (
        ev.filter(F.col("day") < cutoff)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("s"))
    )
    delta = (
        ev.filter(F.col("day") >= cutoff)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("s"))
    )
    return (
        base.unionByName(delta)
        .groupBy("day")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .select("day", "n", d2(F.col("s")).alias("total_value"))
        .orderBy("day")
    )


@register(
    "maintenance_compact_small_files",
    doc="Small-file compaction as a declared operator: a fragmented "
    "topic (32 shards of the events table) is rewritten to 4 files via "
    "compact_topic, then read back — the aggregate must equal the "
    "source table's exactly (content-preserving compaction). The "
    "file-count assertion rides in the output row. At 100 TB this is "
    "the per-partition maintenance job that keeps scan task counts "
    "sane; the rewrite is one coalesce write, no shuffle.",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value,
       CAST(1 AS BIGINT) AS compaction_ok
FROM events
""",
)
def maintenance_compact_small_files(spark, sf_dir):
    def build():
        path = store.tempdir("cascade_compact") + "/topic"
        t(spark, sf_dir, "events").repartition(32).write.parquet(path)
        return (path, *compact_topic(spark, path, target_files=4))

    out, before, after = store.fixture("maintenance.compacted_topic", sf_dir, build)
    back = spark.read.parquet(out)
    ok = F.lit(1 if (before > after and after <= 4) else 0).cast("long")
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        d2(F.sum(dec("value"))).alias("total_value"),
        ok.alias("compaction_ok"),
    )


# --- z-order (multi-dimensional) clustering ---------------------------------
# Bit-interleave two bounded dimension keys into one sort key so a
# range-clustered layout keeps BOTH dimensions locally bounded — the
# standard data-skipping layout (Delta OPTIMIZE ZORDER, Iceberg sort
# orders) expressed as plain arithmetic both engines evaluate identically.

_ZBITS = 8  # 8 bits per dimension -> 16-bit z-value


def _zvalue_expr(a: str, b: str, idiv: str) -> str:
    """Arithmetic bit-interleave of two {0..2^_ZBITS-1} ints: dimension
    ``a`` takes the odd bit positions, ``b`` the even. ``idiv`` is the
    dialect's integer-division operator ('div' for Spark, '//' for
    DuckDB); everything else is shared arithmetic."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({a} {idiv} {2**i}) % 2) * {2 ** (2 * i + 1)})")
        terms.append(f"((({b} {idiv} {2**i}) % 2) * {2 ** (2 * i)})")
    return " + ".join(terms)


@register(
    "maintenance_zorder_cluster",
    doc="Z-order clustering audit: orders keyed by (custkey mod 256, "
    "orderdate-epoch-day mod 256), bit-interleaved into a 16-bit "
    "z-value; rows clustered into 256 z-range buckets (the file "
    "boundaries a z-ordered rewrite would produce via "
    "repartitionByRange(zvalue) + sortWithinPartitions). Output: "
    "per-bucket count and min/max span of BOTH dimensions — each span "
    "is bounded by 2^4-1=15, which is exactly why file-level zone maps "
    "under this layout prune selective predicates on EITHER column. "
    "Pure integer arithmetic, bit-identical across engines.",
    oracle=f"""
WITH keyed AS (
    SELECT o_custkey % 256 AS cb,
           DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256 AS db
    FROM orders
),
z AS (SELECT cb, db, {_zvalue_expr('cb', 'db', '//')} AS zv FROM keyed)
SELECT CAST(zv // 256 AS BIGINT) AS zbucket,
       COUNT(*) AS n_rows,
       CAST(MIN(cb) AS BIGINT) AS min_cb, CAST(MAX(cb) AS BIGINT) AS max_cb,
       CAST(MAX(cb) - MIN(cb) AS BIGINT) AS span_cb,
       CAST(MIN(db) AS BIGINT) AS min_db, CAST(MAX(db) AS BIGINT) AS max_db,
       CAST(MAX(db) - MIN(db) AS BIGINT) AS span_db
FROM z
GROUP BY 1
ORDER BY zbucket
""",
)
def maintenance_zorder_cluster(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    keyed = o.select(
        (F.col("o_custkey") % 256).alias("cb"),
        (F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")) % 256)
        .cast("long")
        .alias("db"),
    )
    z = keyed.select(
        "cb", "db", F.expr(_zvalue_expr("cb", "db", "div")).alias("zv")
    )
    return (
        z.groupBy(F.expr("zv div 256").cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cb").cast("long").alias("min_cb"),
            F.max("cb").cast("long").alias("max_cb"),
            (F.max("cb") - F.min("cb")).cast("long").alias("span_cb"),
            F.min("db").cast("long").alias("min_db"),
            F.max("db").cast("long").alias("max_db"),
            (F.max("db") - F.min("db")).cast("long").alias("span_db"),
        )
        .orderBy("zbucket")
    )


@register(
    "maintenance_analyze_table_stats",
    doc="Catalog statistics for the cost-based optimizer: saveAsTable + "
    "ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, then the stats "
    "read back from the catalog as a relation. Only the EXACT stats "
    "are declared output (row count, column min/max/null count) — "
    "distinct_count is an HLL estimate and stays out of the hash "
    "contract. These stats are what CBO join reordering and broadcast "
    "decisions key on at scale; ANALYZE cost is one scan.",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_count
FROM orders
""",
)
def maintenance_analyze_table_stats(spark, sf_dir):
    import os
    import shutil

    tbl = "cascade_stats_orders_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    # Always (re)write the table: skipping when it exists would let the
    # catalog copy (and its ANALYZE stats) go stale relative to the
    # sf_dir parquet within a session. A previous session's managed-table
    # directory may also survive in the warehouse while the in-memory
    # catalog does not — clear it or CREATE fails with
    # LOCATION_ALREADY_EXISTS.
    if not spark.catalog.tableExists(tbl):
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = os.path.join(wh.removeprefix("file:"), tbl)
        if os.path.isdir(loc):
            shutil.rmtree(loc)
    t(spark, sf_dir, "orders").write.mode("overwrite").saveAsTable(tbl)
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS o_orderkey")
    desc = spark.sql(f"DESCRIBE EXTENDED {tbl} o_orderkey").collect()
    kv = {r["info_name"]: r["info_value"] for r in desc}
    stats = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    row_count = None
    for r in stats:
        if r["col_name"] == "Statistics":
            # "N bytes, M rows"
            row_count = int(r["data_type"].split(",")[1].strip().split(" ")[0])
    # fail loudly if the Statistics line is absent or reformatted — a
    # silent NULL row_count would mask a broken ANALYZE
    assert row_count is not None, "ANALYZE produced no Statistics row-count"
    return spark.createDataFrame(
        [(row_count, int(kv["min"]), int(kv["max"]), int(kv["num_nulls"]))],
        "row_count long, min_key long, max_key long, null_count long",
    )


def clustered_output(spark, sf_dir: str) -> str:
    """Write lineitem Hive-partitioned by ship month with ONE file per
    partition, rows sorted by l_shipdate within each file (memoized)."""
    def build():
        out = store.tempdir("cascade_cluster") + "/lineitem"
        li = t(spark, sf_dir, "lineitem").withColumn(
            "ship_month", F.date_format("l_shipdate", "yyyy-MM")
        )
        (
            li.repartition("ship_month")
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(out)
        )
        return out

    return store.fixture("maintenance.clustered_lineitem", sf_dir, build)


@register(
    "maintenance_minmax_pruning_audit",
    doc="Data-skipping layout + pruning audit: lineitem is rewritten "
    "Hive-partitioned by ship month (repartition on the partition "
    "column => one file per month, sortWithinPartitions => tight "
    "row-group min/max on l_shipdate — the layout maintenance_zorder "
    "generalizes to two columns). The audit reports, per month, the "
    "row count and exact min/max ship dates, plus whether a reference "
    "quarter predicate (1996-Q2) can PRUNE the month without reading "
    "it — the sum of prunable months is the scan-avoidance a 100 TB "
    "table gets from this layout. Partition-dir pruning itself is "
    "pinned by a plan test (one month => one directory => "
    "PartitionFilters). Hash-checked: layout metrics are a pure "
    "function of the data because file assignment is the explicit "
    "partition column, never task scheduling.",
    oracle="""
SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       STRFTIME(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
       STRFTIME(MAX(l_shipdate), '%Y-%m-%d') AS max_ship,
       CAST(CASE WHEN MAX(l_shipdate) < TIMESTAMP '1996-04-01'
                   OR MIN(l_shipdate) >= TIMESTAMP '1996-07-01'
            THEN 1 ELSE 0 END AS BIGINT) AS prunable_for_96q2
FROM lineitem
GROUP BY 1
ORDER BY ship_month
""",
)
def maintenance_minmax_pruning_audit(spark, sf_dir):
    out = clustered_output(spark, sf_dir)
    back = spark.read.parquet(out)
    return (
        back.groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
            (
                (F.max("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
                | (F.min("l_shipdate") >= F.lit("1996-07-01").cast("timestamp"))
            )
            .cast("long")
            .alias("prunable_for_96q2"),
        )
        .orderBy("ship_month")
    )


@register(
    "join_dynamic_partition_pruning",
    doc="Dynamic partition pruning: the month-clustered lineitem "
    "layout (clustered_output — Hive-partitioned on ship_month) "
    "joined on its PARTITION column to a filtered month dimension "
    "(1996-Q2). The optimizer injects a dynamicpruning subquery into "
    "the fact scan's PartitionFilters, so only the 3 matching month "
    "directories are listed/read — at 100 TB the difference between "
    "scanning 3/83 partitions and all of them, decided at RUNTIME "
    "from the dim side (static pruning can't see through the join). "
    "Plan pinned by tests/test_round7_ops.py; result hash-checked "
    "(pruning may only skip, never change results).",
    oracle="""
SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM lineitem
WHERE STRFTIME(l_shipdate, '%Y-%m') IN ('1996-04', '1996-05', '1996-06')
GROUP BY 1
ORDER BY ship_month
""",
)
def join_dynamic_partition_pruning(spark, sf_dir):
    out = clustered_output(spark, sf_dir)
    fact = spark.read.parquet(out)
    # month dimension with a quarter attribute, derived from orders (a
    # different table), filtered on the dim side only
    dim = (
        t(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .distinct()
        .withColumn(
            "quarter",
            F.concat(
                F.substring("m", 1, 4),
                F.lit("-Q"),
                (((F.substring("m", 6, 2).cast("int") - 1) / 3).cast("int") + 1).cast(
                    "string"
                ),
            ),
        )
    )
    return (
        fact.join(dim, fact.ship_month == dim.m)
        .filter(F.col("quarter") == "1996-Q2")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum((F.col("l_extendedprice").cast("decimal(12,4)") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .orderBy("ship_month")
    )


@register(
    "rollup_bitmap_distinct_incremental",
    doc="Incremental EXACT distinct-count refresh via stored bitmaps — "
    "the companion rollup_incremental_refresh cannot cover: "
    "COUNT(DISTINCT) is not algebraically mergeable from counts, but "
    "it IS from bitmaps. The maintained state is per-(type, "
    "bitmap_bucket) user bitmaps (bitmap_construct_agg), PERSISTED "
    "to parquet as binary and read back — the stored-rollup shape. "
    "The refresh bitmap_or_agg-merges the stored history bitmaps "
    "with the delta slice's bitmaps, so new-day maintenance touches "
    "bucket-level bitmaps plus the delta rows, never raw history. "
    "Emits per type the history distinct, merged total distinct, and "
    "the delta-only new users (total - history) — all exact, oracle "
    "= full COUNT(DISTINCT) recompute over each time slice. At 100 "
    "TB this is the exact-dashboard pattern that replaces a daily "
    "full re-shuffle of every user id ever seen.",
    oracle="""
WITH b AS (
    SELECT EPOCH_US(MIN(ts))
           + (EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) * 2 // 3 AS cut_us
    FROM events
)
SELECT event_type,
       CAST((SELECT COUNT(DISTINCT user_id) FROM events e2, b
             WHERE e2.event_type = e.event_type
               AND EPOCH_US(e2.ts) < b.cut_us) AS BIGINT) AS n_history,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total,
       CAST(COUNT(DISTINCT user_id)
            - (SELECT COUNT(DISTINCT user_id) FROM events e2, b
               WHERE e2.event_type = e.event_type
                 AND EPOCH_US(e2.ts) < b.cut_us)
            AS BIGINT) AS n_new_users
FROM events e
GROUP BY event_type
ORDER BY event_type
""",
)
def rollup_bitmap_distinct_incremental(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    lo_us, hi_us = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cut_us = lo_us + (hi_us - lo_us) * 2 // 3

    def bitmaps(df):
        return df.groupBy(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("b"),
        ).agg(
            F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
        )

    # maintained state: history bitmaps persisted as binary parquet
    state = store.tempdir("cascade_bmroll") + "/state"
    bitmaps(ev.filter(F.unix_micros("ts") < cut_us)).write.mode(
        "overwrite"
    ).parquet(state)
    stored = spark.read.parquet(state)
    history = stored.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_history")
    )
    delta_bm = bitmaps(ev.filter(F.unix_micros("ts") >= cut_us))
    merged = (
        stored.unionByName(delta_bm)
        .groupBy("event_type", "b")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_total"))
    )
    return (
        merged.join(history, "event_type")
        .select(
            "event_type",
            "n_history",
            "n_total",
            (F.col("n_total") - F.col("n_history")).cast("long").alias(
                "n_new_users"
            ),
        )
        .orderBy("event_type")
    )
