"""Lakehouse / external connectors.

JDBC is REAL in this container: Spark ships the embedded Derby engine
(used for its Hive metastore), which serves as a faithful in-process
JDBC endpoint — the write path, partitioned parallel reads, and filter
pushdown all exercise Spark's actual JDBC datasource code
(JdbcRelationProvider + DerbyDialect), identical to what runs against
Postgres/MySQL at scale; only the url differs. Embedded Derby is
single-JVM, so on a real cluster the url must point at a network
database — disclosed in the query docs.

Delta Lake, Iceberg, Hudi, and Avro still require jars not present in
this container (SURVEY.md build notes). Those functions define the
engine's intended surface and fail with a clear NotImplementedError
when the backing package is absent, so a deployment with the jars on
the classpath gets the real path untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cascade_spark import store


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta scan — requires delta-spark on the classpath."""
    try:
        import delta  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "delta-spark not installed in this container; "
            "spark.read.format('delta').load(path) once the jar is present"
        ) from exc
    return spark.read.format("delta").load(path)


def read_iceberg(spark: SparkSession, table: str) -> DataFrame:
    """Iceberg table scan — requires the iceberg-spark runtime jar."""
    if "org.apache.iceberg" not in spark.conf.get("spark.jars.packages", ""):
        raise NotImplementedError(
            "iceberg-spark-runtime not on the classpath; spark.table(table) "
            "against an Iceberg catalog once configured"
        )
    return spark.table(table)


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC scan through Spark's real JDBC datasource. Works against the
    in-process Derby engine here and any network database at scale."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


JDBC_PARTITIONS = 4


def jdbc_orders_url(spark: SparkSession, sf_dir: str) -> str:
    """Stage a deterministic orders subset (o_orderkey % 7 = 0) into an
    embedded Derby table over Spark's JDBC WRITE path (memoized per
    sf_dir — producer-side table prep, like bucketed_tables)."""
    def build():
        from cascade_spark.tables import load

        db = store.tempdir("cascade_derby") + "/ordersdb"
        url = f"jdbc:derby:{db};create=true"
        src = load(spark, sf_dir, "orders").filter("o_orderkey % 7 = 0")
        (
            src.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "ORDERS_RT")
            .mode("overwrite")
            .save()
        )
        return url

    return store.fixture("lakehouse.derby_orders", sf_dir, build)


def lakehouse_probe() -> dict[str, bool]:
    """Availability probe, run at import: which lakehouse paths can this
    environment actually serve? (python package AND datasource jar)."""
    import importlib.util

    out = {
        "delta": importlib.util.find_spec("delta") is not None,
        "iceberg": False,  # needs iceberg-spark-runtime jar + catalog conf
        "hudi": False,
        "avro": False,  # core avro jars ship with Spark, but the
        # spark-avro DATASOURCE jar is a separate artifact absent here
        # (probe: spark.read.format('avro') -> "Failed to find data source")
        "jdbc": True,  # embedded Derby ships with Spark — real endpoint
    }
    try:
        import pyspark, os, glob

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        out["avro"] = bool(glob.glob(os.path.join(jars, "spark-avro*.jar")))
        out["iceberg"] = bool(glob.glob(os.path.join(jars, "iceberg-spark-runtime*.jar")))
        out["hudi"] = bool(glob.glob(os.path.join(jars, "hudi-spark*.jar")))
    except Exception:
        pass
    return out


if lakehouse_probe()["delta"]:
    from pyspark.sql import functions as F

    from cascade_spark.plans.registry import register
    from cascade_spark.tables import load as _load

    @register(
        "scan_delta_roundtrip",
        "sources",
        doc="Delta Lake write+read roundtrip over the region table — "
        "registered only where delta-spark is importable (probe-gated "
        "like stream_tws_counter). Oracle = the parquet source itself.",
        oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    )
    def scan_delta_roundtrip(spark, sf_dir):
        out = store.tempdir("delta_rt")
        src = _load(spark, sf_dir, "region").select("r_regionkey", "r_name")
        src.write.format("delta").mode("overwrite").save(out)
        return spark.read.format("delta").load(out).orderBy("r_regionkey")


if lakehouse_probe()["avro"]:
    from pyspark.sql import functions as F

    from cascade_spark.plans.registry import register
    from cascade_spark.tables import load as _load_t

    @register(
        "scan_avro_roundtrip",
        "sources",
        doc="Avro write+read roundtrip over the nation table — "
        "registered only where the spark-avro datasource jar is on the "
        "classpath (probe-gated like scan_delta_roundtrip; this "
        "container ships core avro jars but not the datasource, so the "
        "query registers on real deployments and the skip-marked test "
        "documents the gap here). Oracle = the parquet source itself: "
        "a roundtrip may never change data.",
        oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    )
    def scan_avro_roundtrip(spark, sf_dir):
        out = store.tempdir("avro_rt")
        src = _load_t(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        src.write.format("avro").mode("overwrite").save(out)
        return spark.read.format("avro").load(out).orderBy("n_nationkey")


if lakehouse_probe()["iceberg"]:
    from cascade_spark.plans.registry import register
    from cascade_spark.tables import load as _load_i

    @register(
        "scan_iceberg_roundtrip",
        "sources",
        doc="Iceberg write+read roundtrip over the region table through "
        "a hadoop-type catalog — registered only where the "
        "iceberg-spark-runtime jar is on the classpath (probe-gated "
        "like scan_delta_roundtrip / scan_avro_roundtrip; absent in "
        "this container, the skip-marked test documents the gate). "
        "Oracle = the parquet source: a roundtrip may never change data.",
        oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    )
    def scan_iceberg_roundtrip(spark, sf_dir):
        wh = store.tempdir("iceberg_wh")
        spark.conf.set(
            "spark.sql.catalog.cascade_ice",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        spark.conf.set("spark.sql.catalog.cascade_ice.type", "hadoop")
        spark.conf.set("spark.sql.catalog.cascade_ice.warehouse", wh)
        src = _load_i(spark, sf_dir, "region").select("r_regionkey", "r_name")
        src.writeTo("cascade_ice.db.region_rt").createOrReplace()
        return spark.table("cascade_ice.db.region_rt").orderBy("r_regionkey")


if lakehouse_probe()["hudi"]:
    from cascade_spark.plans.registry import register
    from cascade_spark.tables import load as _load_h

    @register(
        "scan_hudi_roundtrip",
        "sources",
        doc="Hudi copy-on-write write+read roundtrip over the region "
        "table — registered only where the hudi-spark bundle jar is on "
        "the classpath (probe-gated; absent in this container, the "
        "skip-marked test documents the gate). Oracle = the parquet "
        "source: a roundtrip may never change data.",
        oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    )
    def scan_hudi_roundtrip(spark, sf_dir):
        out = store.tempdir("hudi_rt")
        src = _load_h(spark, sf_dir, "region").select("r_regionkey", "r_name")
        (
            src.write.format("hudi")
            .option("hoodie.table.name", "region_rt")
            .option("hoodie.datasource.write.recordkey.field", "r_regionkey")
            .option("hoodie.datasource.write.precombine.field", "r_regionkey")
            .mode("overwrite")
            .save(out)
        )
        return (
            spark.read.format("hudi")
            .load(out)
            .select("r_regionkey", "r_name")
            .orderBy("r_regionkey")
        )


from pyspark.sql import functions as F  # noqa: E402

from cascade_spark.plans.registry import register  # noqa: E402


@register(
    "scan_jdbc_roundtrip",
    "sources",
    doc="REAL JDBC connector roundtrip: a deterministic orders subset "
    "is written to an embedded Derby database through Spark's JDBC "
    "SINK (JdbcRelationProvider creates the table via DerbyDialect "
    "type mapping — bigint/varchar/double/timestamp all cross the "
    "boundary), then read back with a PARTITIONED JDBC scan "
    f"({JDBC_PARTITIONS} range partitions on o_orderkey — each "
    "partition issues its own bounded SELECT, which is how a 100 TB "
    "ingest parallelizes a relational source instead of funneling "
    "through one connection). The aggregate hash-checks every column "
    "class surviving both directions. Embedded Derby is in-process "
    "(single JVM); at cluster scale the url points at a network "
    "database and nothing else changes.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents,
       STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_date,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderkey % 7 = 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def scan_jdbc_roundtrip(spark, sf_dir):
    url = jdbc_orders_url(spark, sf_dir)
    hi = (
        read_jdbc(spark, url, "ORDERS_RT")
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
    )
    back = read_jdbc(
        spark,
        url,
        "ORDERS_RT",
        partitionColumn="o_orderkey",
        lowerBound=1,
        upperBound=int(hi) + 1,
        numPartitions=JDBC_PARTITIONS,
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum((F.col("o_totalprice").cast("decimal(12,4)") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "scan_jdbc_pushdown",
    "sources",
    doc="JDBC filter + projection pushdown: the price predicate and the "
    "3-column projection are compiled INTO the remote SQL "
    "(PushedFilters on the JDBCRelation scan, pinned by "
    "tests/test_round7_ops.py), so the database ships only matching "
    "rows and named columns over the wire — at 100 TB the difference "
    "between moving the table and moving the answer. Result "
    "hash-checked against the same subset + predicate on the parquet "
    "source (pushdown may only relocate work, never change results).",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_custkey) AS BIGINT) AS min_cust
FROM orders
WHERE o_orderkey % 7 = 0 AND o_totalprice > 150000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def scan_jdbc_pushdown(spark, sf_dir):
    url = jdbc_orders_url(spark, sf_dir)
    back = read_jdbc(spark, url, "ORDERS_RT")
    return (
        back.filter(F.col("o_totalprice") > 150000)
        .select("o_orderstatus", "o_custkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("o_custkey").cast("long").alias("min_cust"),
        )
        .orderBy("o_orderstatus")
    )
