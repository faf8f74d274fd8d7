"""Batch sources & sinks (SURVEY.md §2B Scans/sources/sinks).

Each declared query round-trips fixture data through a different format
or write mode and returns an aggregate the DuckDB oracle reproduces from
the parquet original — proving the scan/sink preserves values exactly.

Scale notes: CSV/JSON scans are schema-pinned (no inferSchema job);
partitioned writes use ``partitionBy`` so downstream reads prune
partitions (the reference's topic routing, src/producer/main.rs:146-148);
parquet remains the default columnar format with predicate pushdown.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import d2, dec, t

_TS = "yyyy-MM-dd HH:mm:ss"


@register(
    "scan_csv_roundtrip",
    doc="CSV sink + schema-pinned CSV scan (no inference): nation written "
    "to CSV, read back, joined-free aggregate.",
    oracle="""
SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def scan_csv_roundtrip(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    out = store.tempdir("cascade_csv") + "/nation"
    n.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(n.schema).option("header", True).csv(out)
    return (
        back.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"), F.min("n_name").alias("first_name"))
        .orderBy("n_regionkey")
    )


@register(
    "scan_json_roundtrip",
    doc="JSON lines sink + schema-pinned JSON scan: events written to "
    "JSONL, read back, aggregated; timestamps survive via ISO strings.",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def scan_json_roundtrip(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    out = store.tempdir("cascade_json") + "/events"
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(ev.schema).json(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            d2(F.sum(dec("value"))).alias("total_value"),
            F.date_format(F.min("ts"), _TS).alias("first_ts"),
        )
        .orderBy("event_type")
    )


@register(
    "sink_partitioned",
    doc="Partitioned parquet write (partitionBy event_type ≡ topic "
    "routing) + partition-pruned read-back: only one partition directory "
    "is scanned (PartitionFilters in the plan).",
    oracle="""
SELECT user_id, COUNT(*) AS n
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY user_id
""",
)
def sink_partitioned(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    out = store.tempdir("cascade_part") + "/by_type"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    return back.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).orderBy("user_id")


@register(
    "scan_orc_roundtrip",
    doc="ORC sink + scan (Spark's other columnar format; zstd-compressed "
    "— codec choice is a write option, transparent to readers).",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_bal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def scan_orc_roundtrip(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    out = store.tempdir("cascade_orc") + "/customer"
    c.write.mode("overwrite").option("compression", "zstd").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            d2(F.sum(dec("c_acctbal"))).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "sink_overwrite",
    doc="Overwrite sink semantics: two successive overwrites leave only "
    "the second dataset (append would have kept both).",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n
FROM orders
WHERE o_totalprice > 10000.0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sink_overwrite(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    out = store.tempdir("cascade_ovw") + "/orders"
    o.filter(F.col("o_totalprice") <= 10000.0).write.mode("overwrite").parquet(out)
    o.filter(F.col("o_totalprice") > 10000.0).write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).orderBy("o_orderstatus")


@register(
    "scan_schema_evolution",
    doc="Schema evolution across file generations: legacy files (even "
    "doc_id) lack the later-added `source` column; new files carry it. "
    "A mergeSchema read surfaces the union schema with NULLs for legacy "
    "rows — the forward-compatible reading the reference's fixed proto "
    "schema could not express. The aggregate proves NULL-vs-present "
    "attribution is exact. At scale: mergeSchema costs one footer read "
    "per file generation (not per file) when generations share footers; "
    "production layouts version the schema in the table catalog instead.",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source,
       COUNT(DISTINCT CASE WHEN doc_id % 2 = 1 THEN source END) AS n_sources
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def scan_schema_evolution(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # The declared operator is the mergeSchema READ; the two-generation
    # layout is fixture staging, so build it once per sf_dir (repeat
    # invocations in one process were leaking a fixture-sized temp dir
    # each call).
    def build():
        out = store.tempdir("cascade_evolve")
        # generation 1: before `source` existed
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text", "lang").write.parquet(
            f"{out}/gen1"
        )
        # generation 2: schema grew
        d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "lang", "source"
        ).write.parquet(f"{out}/gen2")
        return out

    out = store.fixture("scans.schema_evolution", sf_dir, build)
    back = spark.read.option("mergeSchema", "true").parquet(f"{out}/gen1", f"{out}/gen2")
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("source").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_source"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


@register(
    "sink_dynamic_partition_overwrite",
    doc="Dynamic partition overwrite (partitionOverwriteMode=dynamic): "
    "rewrite ONLY the 'error' partition of a partitionBy(event_type) "
    "table — the replacement frame touches one partition, so only that "
    "directory is replaced; static mode would have wiped the others. "
    "This is the idempotent daily-reprocess primitive for partitioned "
    "lakes without a table format. The oracle proves both halves: "
    "error counts reflect the replacement predicate, every other "
    "partition keeps its original rows.",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events
WHERE event_type <> 'error'
   OR (event_type = 'error' AND CAST(ts AS DATE) < DATE '2024-01-16')
GROUP BY event_type
ORDER BY event_type
""",
)
def sink_dynamic_partition_overwrite(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    out = store.tempdir("cascade_dynovw") + "/by_type"
    ev.write.partitionBy("event_type").parquet(out)
    replacement = ev.filter(
        (F.col("event_type") == "error") & (F.to_date("ts") < F.lit("2024-01-16"))
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        replacement.write.mode("overwrite").partitionBy("event_type").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # pinned read schema: production readers never infer, and an empty
    # write leaves no files to infer from (tests/test_empty_inputs.py)
    return (
        spark.read.schema(ev.schema).parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("event_type")
    )


@register(
    "scan_text_lines",
    doc="Raw text-line ingestion (spark.read.text) — the entry format "
    "of most LLM corpus pipelines: documents serialized one-per-line "
    "with a unit-separator-delimited header, read back as a `value` "
    "string column, parsed and re-aggregated. Line sources split by "
    "newline only, so the scan parallelizes by byte ranges at any "
    "file size; parsing is a codegen'd split projection, no Python.",
    oracle="""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
""",
)
def scan_text_lines(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    out = store.tempdir("cascade_text") + "/docs_txt"
    (
        docs.select(
            F.concat_ws(
                "\x1f", F.col("doc_id").cast("string"), F.col("source"), F.col("text")
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(out)
    )
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\x1f", 3)
    return (
        lines.select(
            parts.getItem(1).alias("source"),
            F.length(parts.getItem(2)).cast("long").alias("n_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )


@register(
    "scan_ignore_corrupt_files",
    doc="Corrupt-file tolerance (ignoreCorruptFiles): a staging dir "
    "holds the real events parquet plus a garbage file with a .parquet "
    "name; the default reader fails the job, this one skips the bad "
    "file and serves the valid rows — the posture a 100 TB lake needs "
    "when one segment of a million is truncated by a failed writer. "
    "Read schema pinned (no inference over garbage).",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def scan_ignore_corrupt_files(spark, sf_dir):
    import os

    ev = t(spark, sf_dir, "events")
    out = store.tempdir("cascade_corrupt") + "/mixed"
    ev.write.parquet(out)
    with open(os.path.join(out, "part-junk.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file, just truncated garbage bytes")
    back = (
        spark.read.schema(ev.schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(out)
    )
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("event_type")
    )


@register(
    "scan_nested_struct_roundtrip",
    doc="Nested parquet IO: orders nested as a struct (header fields + "
    "an amount) written to parquet, read back with a predicate on a "
    "NESTED field — Spark pushes struct-field predicates into the "
    "scan (nestedPredicatePushdown; the plan test pins PushedFilters "
    "on o.amount_cents) and prunes to the referenced leaf columns. "
    "The denormalized-payload layout every event-envelope pipeline "
    "uses; at 100 TB leaf-level pruning is the difference between "
    "reading one column chapter and the whole envelope.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT) > 15000000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def scan_nested_struct_roundtrip(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    nested = o.select(
        F.col("o_orderkey").alias("k"),
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
            (dec("o_totalprice") * 100).cast("long").alias("amount_cents"),
        ).alias("o"),
    )
    out = store.tempdir("cascade_nested") + "/orders_nested"
    nested.write.parquet(out)
    back = spark.read.schema(nested.schema).parquet(out)
    return (
        back.filter(F.col("o.amount_cents") > 15000000)
        .groupBy(F.col("o.priority").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("o.amount_cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "scan_recursive_file_lookup",
    doc="Recursive directory ingestion: customer rows sharded into a "
    "nested region=<k>/batch=<j>/ tree (non-Hive layout — directory "
    "names are NOT partition columns), read back in one scan with "
    "recursiveFileLookup=true + pathGlobFilter='*.parquet' (a stray "
    ".tmp file in the tree proves the glob filter skips non-data "
    "files). The data-lake ingest shape for arbitrarily nested vendor "
    "drops; the scan parallelizes across every leaf file.",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))), 2) AS DOUBLE)
           AS total_balance
FROM customer
GROUP BY c_nationkey
ORDER BY nationkey
""",
)
def scan_recursive_file_lookup(spark, sf_dir):
    import os

    c = t(spark, sf_dir, "customer")
    root = store.tempdir("cascade_rfl") + "/tree"
    # nested, non-Hive layout: region=<mod3>/batch=<mod2>
    for r in range(3):
        for bch in range(2):
            part = c.filter(
                (F.col("c_custkey") % 3 == r)
                & (F.expr("c_custkey DIV 3") % 2 == bch)
            )
            part.write.mode("overwrite").parquet(f"{root}/r{r}/b{bch}")
    # a non-parquet stray the glob filter must skip
    os.makedirs(f"{root}/r0", exist_ok=True)
    with open(f"{root}/r0/note.tmp", "w") as fh:
        fh.write("not data")
    back = (
        spark.read.schema(c.schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(root)
    )
    return (
        back.groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,4)")), 2)
            .cast("double")
            .alias("total_balance"),
        )
        .orderBy("nationkey")
    )


@register(
    "scan_csv_multiline_quoted",
    doc="CSV roundtrip with embedded newlines, commas, and quotes: each "
    "document's text gets a deterministic ',\\n\"the\" ' injection, is "
    "written through the CSV sink (quoted fields), and read back with "
    "multiLine=true — the parser mode that must treat a quoted LF as "
    "data, not a record boundary (the classic silent-corruption bug in "
    "naive line-split CSV ingestion; note multiLine forgoes per-line "
    "splittability, so at 100 TB you shard by FILES, not byte ranges). "
    "Verified by count / total length / line count / XOR content "
    "checksum recomputed by the oracle from the same injection.",
    oracle="""
WITH t2 AS (
    SELECT doc_id,
           REPLACE(text, ' the ', ',' || CHR(10) || '"the" ') AS text2
    FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(LENGTH(text2)), 0) AS BIGINT) AS total_chars,
       CAST(COALESCE(SUM(LEN(STRING_SPLIT(text2, CHR(10)))), 0) AS BIGINT)
           AS total_lines,
       CAST(COALESCE(BIT_XOR(('0x' || SUBSTR(MD5(text2), 1, 14))::BIGINT), 0)
            AS BIGINT) AS content_checksum
FROM t2
""",
)
def scan_csv_multiline_quoted(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    text2 = F.replace(
        F.col("text"), F.lit(" the "), F.concat(F.lit(",\n"), F.lit('"the" '))
    )
    src = d.select("doc_id", text2.alias("text2"))
    out = store.tempdir("cascade_csvml") + "/docs"
    src.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(src.schema).option("header", True).option(
        "multiLine", True
    ).csv(out)
    sig = F.conv(F.substring(F.md5("text2"), 1, 14), 16, 10).cast("long")
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.length("text2")), F.lit(0)).cast("long").alias("total_chars"),
        F.coalesce(F.sum(F.size(F.split("text2", "\n"))), F.lit(0))
        .cast("long")
        .alias("total_lines"),
        F.coalesce(F.bit_xor(sig), F.lit(0)).cast("long").alias("content_checksum"),
    )


@register(
    "scan_xml_roundtrip",
    doc="Native XML source/sink roundtrip (built into Spark 4): orders "
    "written as <order> row elements, read back with a pinned schema "
    "(no inference pass — at 100 TB schema inference is a full extra "
    "scan), aggregated per status. Exercises decimal/date/string type "
    "fidelity through XML text encoding plus attribute-free element "
    "mapping; the oracle recomputes the aggregate from the source "
    "table, so any roundtrip corruption hash-mismatches.",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)) * 100) AS BIGINT)
           AS total_cents,
       STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_date
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def scan_xml_roundtrip(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    out = store.tempdir("cascade_xml") + "/orders"
    o.write.mode("overwrite").format("xml").option("rootTag", "orders").option(
        "rowTag", "order"
    ).save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(o.schema)
        .load(out)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(dec("o_totalprice") * 100)).cast("long").alias("total_cents"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sink_rebalanced_write",
    doc="AQE-rebalanced write: the REBALANCE hint on the key column asks "
    "AQE to split oversized and coalesce undersized output partitions "
    "at runtime — the cure for both small-file explosion AND straggler "
    "files in a skewed partitioned write (the static alternative, "
    "repartition(n), can't adapt to per-key volume). Content integrity "
    "verified by per-key count + XOR checksum recomputed by the oracle "
    "from the source table; the hint's presence is pinned by a plan "
    "test. At 100 TB this is the default write shape for any skewed "
    "partition column.",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(BIT_XOR(('0x' || SUBSTR(MD5(CAST(l_orderkey AS VARCHAR) || ':'
                     || CAST(l_linenumber AS VARCHAR)), 1, 14))::BIGINT)
            AS BIGINT) AS content_checksum
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sink_rebalanced_write(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    out = store.tempdir("cascade_rebal") + "/li"
    li.hint("rebalance", "l_returnflag").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(out)
    # schema pinned: an empty write leaves no data files to infer from
    back = spark.read.schema(li.schema).parquet(out)
    sig = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("long")
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.bit_xor(sig).cast("long").alias("content_checksum"),
        )
        .orderBy("l_returnflag")
    )


def bloom_filter_output(spark, sf_dir: str) -> str:
    """Write lineitem with a parquet bloom filter on l_orderkey (memoized
    per sf_dir; inputs are read-only so the layout is immutable)."""
    def build():
        out = store.tempdir("cascade_bloom") + "/lineitem"
        (
            t(spark, sf_dir, "lineitem")
            .repartition(4, "l_orderkey")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#l_orderkey", "true")
            .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
            # parquet-mr silently DROPS the bloom when a chunk stays fully
            # dictionary-encoded (the dictionary already gives exact
            # membership); disable dictionary on the key column so the
            # bloom actually lands at every scale factor
            .option("parquet.enable.dictionary#l_orderkey", "false")
            .parquet(out)
        )
        return out

    return store.fixture("scans.bloom_lineitem", sf_dir, build)


@register(
    "scan_parquet_bloom_filter",
    doc="Parquet bloom-filter write + point-lookup scan: lineitem lands "
    "with a bloom filter on l_orderkey "
    "(parquet.bloom.filter.enabled#col), then an IN-list point lookup "
    "reads it back. Row-group min/max stats can only prune SORTED "
    "keys; a bloom filter prunes row groups for ARBITRARY point "
    "predicates on high-cardinality columns — at 100 TB this is the "
    "difference between touching every row group that straddles the "
    "key range and touching only the groups that can contain the "
    "keys. The filter's presence in the footer is pinned by a test "
    "(tests/test_round7_ops.py); the query hash-checks the lookup "
    "result itself, which must be byte-identical with or without the "
    "bloom (blooms may only skip, never change results).",
    oracle="""
SELECT l_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM lineitem
WHERE l_orderkey IN (7, 77, 777, 1407, 2944)
GROUP BY l_orderkey
ORDER BY l_orderkey
""",
)
def scan_parquet_bloom_filter(spark, sf_dir):
    out = bloom_filter_output(spark, sf_dir)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("l_orderkey").isin(7, 77, 777, 1407, 2944))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum((F.col("l_extendedprice").cast("decimal(12,4)") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .orderBy("l_orderkey")
    )


MAX_RECORDS_PER_FILE = 512


@register(
    "sink_file_size_targeting",
    doc="maxRecordsPerFile write rolling: lineitem lands "
    "Hive-partitioned by ship month with files capped at "
    f"{MAX_RECORDS_PER_FILE} records — the writer rolls a new file "
    "when the cap is reached, so every partition directory holds "
    "ceil(n/cap) files of exactly cap rows plus one remainder. The "
    "audit reads the layout back and verifies the roll arithmetic "
    "per month (n_files, full files, smallest file) — deterministic "
    "because repartition(ship_month) gives each month ONE writing "
    "task (dynamic-partition sort => sequential rolls). This is the "
    "file-size-targeting knob that keeps 100 TB outputs out of both "
    "the tiny-file regime (NameNode/listing pressure) and the "
    "giant-file regime (no read parallelism); the plan-level twin "
    "is sink_rebalanced_write's AQE rebalance.",
    oracle=f"""
SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST((COUNT(*) + {MAX_RECORDS_PER_FILE} - 1) // {MAX_RECORDS_PER_FILE}
            AS BIGINT) AS n_files,
       CAST(CASE WHEN COUNT(*) % {MAX_RECORDS_PER_FILE} = 0
                 THEN COUNT(*) // {MAX_RECORDS_PER_FILE}
                 ELSE COUNT(*) // {MAX_RECORDS_PER_FILE} END
            AS BIGINT) AS n_full_files,
       CAST(CASE WHEN COUNT(*) % {MAX_RECORDS_PER_FILE} = 0
                 THEN {MAX_RECORDS_PER_FILE}
                 ELSE COUNT(*) % {MAX_RECORDS_PER_FILE} END
            AS BIGINT) AS min_file_rows
FROM lineitem
GROUP BY 1
ORDER BY ship_month
""",
)
def sink_file_size_targeting(spark, sf_dir):
    out = store.tempdir("cascade_sizetgt") + "/lineitem"
    li = t(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    (
        li.repartition("ship_month")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
        .partitionBy("ship_month")
        .parquet(out)
    )
    back = spark.read.parquet(out).withColumn("_f", F.input_file_name())
    per_file = back.groupBy("ship_month", "_f").agg(
        F.count(F.lit(1)).cast("long").alias("fr")
    )
    return (
        per_file.groupBy("ship_month")
        .agg(
            F.sum("fr").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.count_if(F.col("fr") == MAX_RECORDS_PER_FILE)
            .cast("long")
            .alias("n_full_files"),
            F.min("fr").cast("long").alias("min_file_rows"),
        )
        .orderBy("ship_month")
    )


PARQUET_VARIANTS = (
    ("snappy", "v1"),
    ("zstd", "v1"),
    ("zstd", "v2"),
    ("gzip", "v1"),
)


@register(
    "scan_parquet_codec_matrix",
    doc="Parquet codec / writer-version matrix: the same lineitem "
    "subset written under snappy+v1, zstd+v1, zstd+v2 (data page v2) "
    "and gzip+v1, each read back and reduced to an identical "
    "(n_rows, key checksum, cents sum) fingerprint — codec and page "
    "version are PHYSICAL knobs and must be invisible to every "
    "reader (the 100 TB storage-cost lever: zstd typically halves "
    "the footprint vs snappy at similar scan speed; size ordering is "
    "pinned by tests/test_round7_ops.py since byte sizes aren't "
    "oracle-checkable). One row per variant, all four fingerprints "
    "equal by construction.",
    oracle="""
SELECT v.variant,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(BIT_XOR(l_orderkey * 31 + l_linenumber) AS BIGINT) AS key_checksum,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM lineitem,
     (SELECT UNNEST(['gzip_v1', 'snappy_v1', 'zstd_v1', 'zstd_v2']) AS variant) v
WHERE l_orderkey % 5 = 0
GROUP BY v.variant
ORDER BY v.variant
""",
)
def scan_parquet_codec_matrix(spark, sf_dir):
    base = store.tempdir("cascade_codec")
    src = t(spark, sf_dir, "lineitem").filter("l_orderkey % 5 = 0").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    outs = []
    for codec, ver in PARQUET_VARIANTS:
        out = f"{base}/{codec}_{ver}"
        (
            src.coalesce(4)
            .write.option("compression", codec)
            .option("parquet.writer.version", ver)
            .parquet(out)
        )
        outs.append((f"{codec}_{ver}", out))
    frames = []
    for variant, out in outs:
        back = spark.read.parquet(out)
        frames.append(
            back.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.expr("bit_xor(l_orderkey * 31 + l_linenumber)")
                .cast("long")
                .alias("key_checksum"),
                F.sum(
                    (F.col("l_extendedprice").cast("decimal(12,4)") * 100).cast("long")
                )
                .cast("long")
                .alias("cents"),
            ).select(F.lit(variant).alias("variant"), "n_rows", "key_checksum", "cents")
        )
    res = frames[0]
    for fr in frames[1:]:
        res = res.unionByName(fr)
    return res.orderBy("variant")


def gzip_csv_output(spark, sf_dir: str) -> str:
    """Stage the events projection as exactly 3 gzip CSV files, one per
    user_id%3 class (three targeted writes — deterministic file
    contents, unlike round-robin repartition). Memoized per sf_dir:
    producer-side table prep, like bucketed_tables."""
    def build():
        from cascade_spark.tables import load

        out = store.tempdir("cascade_gz") + "/events_gz"
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type"
        )
        for k in range(3):
            (
                ev.filter(F.col("user_id") % 3 == k)
                .coalesce(1)
                .write.mode("append")
                .option("compression", "gzip")
                .option("header", True)
                .csv(out)
            )
        return out

    return store.fixture("scans.gzip_csv", sf_dir, build)


@register(
    "scan_text_gzip_nonsplittable",
    doc="Gzip CSV scan — the NON-SPLITTABLE codec path every 100 TB "
    "text corpus trips over (a .gz shard is one task no matter how big: "
    "the decompressor has no mid-stream entry points, so shard size = "
    "task size = straggler risk; zstd/bzip2-seekable or many small "
    "shards is the fix). Three single-class gzip files round-trip the "
    "events projection; the query groups by input file and verifies "
    "each file holds exactly one user_id%3 class with exact counts — "
    "binding file boundaries to data. The partition-per-file behavior "
    "itself is pinned engine-side in tests/test_round8_ops.py (tiny "
    "maxPartitionBytes: plain CSV splits, gzip cannot).",
    oracle="""
SELECT CAST(user_id % 3 AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id % 3) AS BIGINT) AS n_classes_in_file,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events
GROUP BY user_id % 3
ORDER BY grp
""",
)
def scan_text_gzip_nonsplittable(spark, sf_dir):
    out = gzip_csv_output(spark, sf_dir)
    back = (
        spark.read.option("header", True)
        .schema("event_id long, user_id long, event_type string")
        .csv(out)
    )
    per_file = (
        back.groupBy(F.input_file_name().alias("_f"))
        .agg(
            F.min(F.col("user_id") % 3).cast("long").alias("grp"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(F.col("user_id") % 3)
            .cast("long")
            .alias("n_classes_in_file"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
    )
    return per_file.select(
        "grp", "n_rows", "n_classes_in_file", "sum_event_id"
    ).orderBy("grp")


@register(
    "scan_parquet_metadata_columns",
    doc="The _metadata hidden column family on file scans (Spark's "
    "per-row file provenance: file_path / file_name / file_size / "
    "row_index) — what incremental pipelines use to build record-level "
    "lineage without a separate manifest join. Nation is staged as ONE "
    "sorted parquet file so row_index is deterministic (= write-order "
    "rank = n_nationkey for the contiguous 0..24 keys); the query "
    "proves the engine-provided row_index matches the data-derived "
    "rank and that all rows carry exactly one file identity. The "
    "oracle recomputes the rank relationally — same answer, different "
    "provenance machinery.",
    oracle="""
SELECT n_nationkey,
       CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS BIGINT) AS row_index,
       CAST(1 AS BIGINT) AS n_files
FROM nation
ORDER BY n_nationkey
""",
)
def scan_parquet_metadata_columns(spark, sf_dir):
    from cascade_spark.tables import load

    out = store.tempdir("cascade_meta") + "/nation"
    (
        load(spark, sf_dir, "nation")
        .select("n_nationkey")
        .coalesce(1)
        .sortWithinPartitions("n_nationkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "n_nationkey",
        F.col("_metadata.row_index").cast("long").alias("row_index"),
        F.col("_metadata.file_path").alias("_fp"),
    )
    nf = back.agg(F.countDistinct("_fp").cast("long").alias("n_files"))
    return (
        back.crossJoin(F.broadcast(nf))
        .select("n_nationkey", "row_index", "n_files")
        .orderBy("n_nationkey")
    )


WHOLETEXT_MOD = 40  # one file per doc_id % 40 == 0 (doc-per-file regime)


@register(
    "scan_text_wholetext",
    doc="Doc-per-file ingestion (spark.read.text wholetext=true) — the "
    "other corpus entry format next to scan_text_lines' "
    "line-per-record: each staged file holds ONE document (with "
    "embedded newlines, which line mode would shred); wholetext "
    "returns one row per FILE regardless of content. The unsplittable-"
    "unit trade-off is the point: parallelism = file count, so at "
    "100 TB this regime wants many small-to-medium files, never one "
    "giant one (the gzip-scan lesson at the file level). Readback "
    "re-aggregates exact char masses per source.",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(LENGTH(text) + LENGTH(source) + 1) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id % {WHOLETEXT_MOD} = 0
GROUP BY source ORDER BY source
""",
)
def scan_text_wholetext(spark, sf_dir):
    import os

    docs = t(spark, sf_dir, "documents")
    out = store.tempdir("cascade_wholetext")
    # one file per selected doc, first line = source header, then text
    # (embedded newline is exactly what wholetext must preserve)
    sel = docs.filter(F.col("doc_id") % WHOLETEXT_MOD == 0).select(
        "doc_id", "source", "text"
    )
    for r in sel.collect():  # staging fixture prep (bounded subset)
        with open(os.path.join(out, f"doc_{r['doc_id']}.txt"), "w") as f:
            f.write(r["source"] + "\n" + r["text"])
    whole = spark.read.text(out, wholetext=True)
    parts = F.split(F.col("value"), "\n", 2)
    return (
        whole.select(
            parts.getItem(0).alias("source"),
            F.length(F.col("value")).cast("long").alias("n_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )
