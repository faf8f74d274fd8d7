"""Fixture table loading.

The driver testdata (TESTDATA.md / FIXTURES.md) is one parquet file per
table per scale-factor directory. At 100 TB each "table" would be a
partitioned parquet/iceberg dataset; ``load`` stays a plain
parquet read either way — Catalyst handles partition pruning,
predicate pushdown, and column pruning from the declarative plan.

Schema inference (``spark.read.parquet(path)`` with no schema) launches
a Spark job per call. ``load`` infers each table's ``StructType`` once
and memoizes it in the session store under ``"tables.schema"``, keyed
by ``(applicationId, path)`` plus, for a local path, the file's
``st_mtime_ns`` and ``st_size`` (a table rewritten in place is inferred
again). Later loads read with ``spark.read.schema(s).parquet(path)``,
which runs no job. Only the schema is memoized, never the DataFrame:
every call returns a fresh relation, and every query still lists and
scans the files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cascade_spark import store

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables safe for an explicit broadcast hint at ANY scale:
# only region (5 rows) and nation (25) are genuinely fixed-size.
# customer/part/supplier scale linearly with SF (FIXTURES.md), so their
# join strategy is left to AQE's size check — a forced hint would OOM
# at 100×.
BROADCASTABLE = {"region", "nation"}


def ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs this engine depends on, set defensively so queries
    behave identically on an externally-created SparkSession (e.g. the
    driver harness's): UTC timestamps (oracle parity), nanos-as-long
    parquet reads (tolerates TIMESTAMP(NANOS) testdata generations, which
    vanilla Spark refuses), and LTZ (not NTZ) inference for
    timezone-less parquet timestamps so ``unix_micros`` et al. resolve.
    All are runtime-settable SQL confs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # cascade_bus implements pushFilters; Spark raises (not ignores) on a
    # pushdown-capable python source when this is off
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # the engine's declared surface includes the Spark 4 TIME type
    # (fn_time_type); declared here as a session default instead of a
    # per-query set-and-leak (round-11 ADVICE item 1)
    spark.conf.set("spark.sql.timeType.enabled", "true")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    ``events.ts`` has varied across driver testdata generations —
    TIMESTAMP(NANOS) (surfacing as long under
    ``spark.sql.legacy.parquet.nanosAsLong``) or TIMESTAMP_MICROS without
    timezone (surfacing as TIMESTAMP_NTZ when Spark 4's
    ``inferTimestampNTZ`` is on). Normalize every variant to session-local
    TIMESTAMP (LTZ, session tz pinned UTC) so downstream code —
    ``unix_micros``, window functions, streaming watermarks — sees one
    type, and the stored microsecond values match what DuckDB reads.
    """
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_schema(spark, path)).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) read as long: ns → µs floor
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # NTZ → LTZ is identity under UTC
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _schema(spark: SparkSession, path: str) -> StructType:
    """The inferred schema of the parquet table at ``path``, inferred
    once per application and file version. ``load`` calls it after
    ``ensure_session_confs``, so the confs that shape inference
    (nanos-as-long, NTZ inference) are the same on every hit."""
    key: tuple = (spark.sparkContext.applicationId, path)
    try:
        st = os.stat(path)
        key += (st.st_mtime_ns, st.st_size)
    except OSError:
        pass  # not a local path (s3a://, hdfs://, file:): keyed by URI alone
    return store.fixture(
        "tables.schema", key, lambda: spark.read.parquet(path).schema
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql use)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
