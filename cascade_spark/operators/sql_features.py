"""SQL-surface features: LATERAL subqueries, IGNORE NULLS window
variants, boolean aggregates, URL parsing.

These are API-surface rows a user migrating real SQL workloads hits
immediately; each is the built-in (JVM/codegen) form, no Python.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t


@register(
    "subquery_lateral_topn",
    "subqueries",
    doc="LATERAL correlated subquery (Spark SQL LATERAL, 3.4+): per "
    "nation, the top-2 customers by balance via a correlated ORDER BY "
    "... LIMIT subquery — the SQL-standard form of per-group top-k. "
    "Catalyst rewrites the lateral into the same rank-window shape as "
    "sort_topk_per_group, so the declared SQL surface and the "
    "DataFrame idiom share one physical plan family.",
    oracle="""
SELECT n.n_name, l.c_name, l.c_acctbal
FROM nation n,
     LATERAL (SELECT c_name, c_acctbal
              FROM customer c
              WHERE c.c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_name
              LIMIT 2) l
ORDER BY n.n_name, l.c_acctbal DESC, l.c_name
""",
)
def subquery_lateral_topn(spark, sf_dir):
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT n.n_name, l.c_name, l.c_acctbal
        FROM nation_v n,
             LATERAL (SELECT c_name, c_acctbal
                      FROM customer_v c
                      WHERE c.c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_name
                      LIMIT 2) l
        ORDER BY n.n_name, l.c_acctbal DESC, l.c_name
        """
    )


@register(
    "window_ignore_nulls",
    "windows",
    doc="IGNORE NULLS window variants: values gapped to NULL on error "
    "events are carried forward with LAST_VALUE ... IGNORE NULLS and "
    "probed with NTH_VALUE ... IGNORE NULLS — the direct SQL form of "
    "the portable two-window forward-fill events_gapfill_interpolate "
    "uses. One shuffle on user_id serves both window functions.",
    oracle="""
WITH gapped AS (
    SELECT user_id, event_id, ts,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
    FROM events
)
SELECT user_id, event_id,
       LAST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS carried,
       NTH_VALUE(v, 1 IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS first_valid
FROM gapped
ORDER BY user_id, event_id
""",
)
def window_ignore_nulls(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    gapped = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "error", None).otherwise(F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return gapped.select(
        "user_id",
        "event_id",
        F.last("v", ignorenulls=True).over(w).alias("carried"),
        F.nth_value("v", 1, ignoreNulls=True).over(w).alias("first_valid"),
    ).orderBy("user_id", "event_id")


@register(
    "agg_bool_flags",
    "aggregations",
    doc="Boolean aggregates (bool_and / bool_or / count_if) per event "
    "type — data-quality flags in one combinable pass.",
    oracle="""
SELECT event_type,
       BOOL_AND(value >= 0) AS all_nonneg,
       BOOL_OR(value > 99) AS any_large,
       CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_over_50,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_bool_flags(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
            F.bool_or(F.col("value") > 99).alias("any_large"),
            F.count_if(F.col("value") > 50).cast("long").alias("n_over_50"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "fn_url_parse",
    "functions",
    doc="URL functions: documents get synthetic canonical URLs, then "
    "parse_url extracts host / path / query and a named query "
    "parameter — the log-pipeline normalization step, all JVM "
    "built-ins. The oracle reconstructs the expected components "
    "directly, so Spark's parser is checked against ground truth "
    "rather than a second parser.",
    oracle="""
SELECT doc_id,
       source || '.example.com' AS host,
       '/docs/' || CAST(doc_id AS VARCHAR) AS path,
       'lang=' || lang AS query,
       lang AS lang_param
FROM documents
ORDER BY doc_id
""",
)
def fn_url_parse(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    ).orderBy("doc_id")


@register(
    "fn_variant_json",
    "functions",
    doc="VARIANT semi-structured type (Spark 4): events.props parsed "
    "with parse_json into a variant column, fields extracted with "
    "variant_get at a declared type, schema introspected with "
    "schema_of_variant, and try_parse_json shown null-safe on garbage "
    "— the modern open-schema path that replaces string-JSON "
    "re-parsing per access. Oracle extracts the same fields with "
    "DuckDB's JSON accessors.",
    oracle="""
SELECT event_id,
       CAST(props ->> '$.k' AS BIGINT) AS k,
       CAST(props ->> '$.k' AS BIGINT) * 2 AS k_doubled,
       'OBJECT<k: BIGINT>' AS variant_schema,
       CAST(NULL AS BIGINT) AS bad_parse
FROM events
ORDER BY event_id
""",
)
def fn_variant_json(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "long").alias("k"),
        (F.variant_get(v, "$.k", "long") * 2).alias("k_doubled"),
        F.schema_of_variant(v).alias("variant_schema"),
        F.variant_get(F.try_parse_json(F.lit("{not json")), "$.k", "long").alias("bad_parse"),
    ).orderBy("event_id")


@register(
    "agg_collated_group",
    "aggregations",
    doc="Collation-aware grouping (Spark 4 collations): a mixed-case "
    "language column grouped under UTF8_LCASE compares "
    "case-insensitively in the groupBy itself — no lower() projection "
    "— with the canonical key and a deterministic min-raw "
    "representative projected for the output. Oracle = the classic "
    "LOWER() rewrite, pinning that the collated group is exactly the "
    "case-folded group.",
    oracle="""
WITH mixed AS (
    SELECT CASE WHEN doc_id % 2 = 0 THEN UPPER(lang) ELSE lang END AS m
    FROM documents
)
SELECT LOWER(m) AS lang_ci,
       COUNT(*) AS n,
       MIN(m) AS min_raw
FROM mixed
GROUP BY LOWER(m)
ORDER BY lang_ci
""",
)
def agg_collated_group(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    mixed = d.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang")).otherwise(F.col("lang")).alias("m")
    )
    return (
        mixed.groupBy(F.collate(F.col("m"), "UTF8_LCASE").alias("mc"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.collate(F.col("m"), "UTF8_BINARY")).alias("min_raw"),
        )
        .select(F.lower(F.col("mc")).alias("lang_ci"), "n", "min_raw")
        .orderBy("lang_ci")
    )


@register(
    "scan_csv_permissive_badrecords",
    "sources",
    doc="Malformed-record handling on ingest: a CSV where every 10th "
    "row has a non-numeric value is read under PERMISSIVE mode with a "
    "corrupt-record column — bad rows surface as NULL fields + the raw "
    "line instead of failing the job (the operational contract for "
    "ingesting dirty feeds at scale; DROPMALFORMED/FAILFAST are the "
    "stricter modes of the same knob). Output: good/bad counts and the "
    "good-row sum, derived by the oracle from the generation rule.",
    oracle="""
WITH rows_ AS (SELECT UNNEST(GENERATE_SERIES(0, 99)) AS id)
SELECT CAST(SUM(CASE WHEN id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       CAST(SUM(CASE WHEN id % 10 <> 0 THEN id * 3 END) AS BIGINT) AS sum_good_val
FROM rows_
""",
)
def scan_csv_permissive_badrecords(spark, sf_dir):
    import os

    def build():
        d = store.tempdir("cascade_badcsv")
        path = os.path.join(d, "feed.csv")
        with open(path, "w") as fh:
            fh.write("id,val\n")
            for i in range(100):
                fh.write(f"{i},xx\n" if i % 10 == 0 else f"{i},{i * 3}\n")
        return path

    path = store.fixture("sql_features.bad_csv", sf_dir, build)
    df = (
        spark.read.schema("id long, val long, _corrupt string")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        # corrupt-record access requires materializing the raw column
        .cache()
    )
    return df.agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)).cast("long").alias("n_bad"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("val"))).cast("long").alias("sum_good_val"),
    )


@register(
    "agg_grouping_id",
    "aggregations",
    doc="GROUPING()/GROUPING_ID() flags on a rollup: subtotal rows are "
    "distinguished from genuine NULL group keys by the grouping "
    "bitmask, not by key nullness — the only correct way to consume "
    "rollup/cube output downstream.",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def agg_grouping_id(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "gid", "n")
        .orderBy("gid", F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@register(
    "events_session_window_batch",
    "analytics",
    doc="Built-in session_window in BATCH mode (the same operator the "
    "streaming query uses, no gaps-and-islands windows needed): "
    "per-user 30-minute-gap sessions as one groupBy over the dynamic "
    "session key. Oracle = the manual islands construction with "
    "end = last event + gap, pinning Spark's session-window semantics "
    "against the portable rewrite.",
    oracle="""
WITH gaps AS (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sidx
    FROM gaps
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       STRFTIME(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sidx
ORDER BY user_id, session_start
""",
)
def events_session_window_batch(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "fn_xml_extract",
    "functions",
    doc="XML functions: documents rendered as XML records, fields "
    "pulled back out with xpath_string / xpath_long — legacy-feed "
    "parsing as JVM built-ins. The oracle reconstructs the expected "
    "values directly (ground truth, not a second XML parser).",
    oracle="""
SELECT doc_id,
       lang AS xml_lang,
       CAST(n_chars AS BIGINT) AS xml_chars,
       source AS xml_source
FROM documents
ORDER BY doc_id
""",
)
def fn_xml_extract(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    xml = F.concat(
        F.lit("<doc><lang>"),
        F.col("lang"),
        F.lit("</lang><chars>"),
        F.col("n_chars").cast("string"),
        F.lit("</chars><src>"),
        F.col("source"),
        F.lit("</src></doc>"),
    )
    return d.select(
        "doc_id",
        F.xpath_string(xml, F.lit("/doc/lang")).alias("xml_lang"),
        F.xpath_long(xml, F.lit("/doc/chars")).alias("xml_chars"),
        F.xpath_string(xml, F.lit("/doc/src")).alias("xml_source"),
    ).orderBy("doc_id")


@register(
    "fn_aes_roundtrip",
    "functions",
    doc="Column-level encryption (aes_encrypt/aes_decrypt): document "
    "text encrypted and decrypted in one projection — the "
    "field-protection step PII pipelines apply before data leaves a "
    "trust boundary (see pipeline_pii_scrub for the redaction "
    "alternative). ECB mode is used here ONLY because its determinism "
    "makes the roundtrip oracle-checkable; production uses GCM, whose "
    "random IV cannot hash-match a replay by design. The oracle checks "
    "the identity: decrypt(encrypt(x)) = x, plus ciphertext length "
    "(block padding) as an exact integer.",
    oracle="""
SELECT doc_id,
       text AS roundtrip,
       CAST(((OCTET_LENGTH(ENCODE(text)) // 16) + 1) * 16 AS BIGINT) AS cipher_len
FROM documents
ORDER BY doc_id
""",
)
def fn_aes_roundtrip(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    key = F.lit("0123456789abcdef")  # 16-byte demo key
    cipher = F.aes_encrypt(F.col("text").cast("binary"), key, F.lit("ECB"))
    plain = F.aes_decrypt(cipher, key, F.lit("ECB"))
    return d.select(
        "doc_id",
        plain.cast("string").alias("roundtrip"),
        F.length(cipher).cast("long").alias("cipher_len"),
    ).orderBy("doc_id")


@register(
    "events_session_window_dynamic_gap",
    "analytics",
    doc="session_window with a DYNAMIC per-row gap (Spark 3.2+): "
    "purchase/signup events hold sessions open for 60 minutes, "
    "everything else 15 — the per-event-importance sessionization "
    "real funnels use. Semantics: each event spans [ts, ts+gap); "
    "overlapping spans merge, so a new session starts exactly when "
    "ts >= the running max of previous ends — which is what the "
    "oracle's running-max islands rewrite computes. Same one-shuffle "
    "shape as the fixed-gap operator.",
    oracle="""
WITH spans AS (
    SELECT user_id, event_id, ts,
           ts + CASE WHEN event_type IN ('purchase','signup')
                     THEN INTERVAL 60 MINUTE ELSE INTERVAL 15 MINUTE END AS e
    FROM events
), marked AS (
    SELECT user_id, ts, e,
           CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     IS NULL
                  OR ts >= MAX(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_sess
    FROM spans
), sess AS (
    SELECT user_id, ts, e,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, e
                               ROWS UNBOUNDED PRECEDING) AS sidx
    FROM marked
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       STRFTIME(MAX(e), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sidx
ORDER BY user_id, session_start
""",
)
def events_session_window_dynamic_gap(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type").isin("purchase", "signup"), F.lit("60 minutes")
    ).otherwise(F.lit("15 minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "catalog_global_temp_view",
    "sources",
    doc="Global temp views: registered in the global_temp database and "
    "visible from a DIFFERENT session (spark.newSession shares the "
    "catalog of globals, unlike createOrReplaceTempView's "
    "session-local registry) — the cross-session handoff surface of "
    "the coordinator's volatile topic map. The aggregate runs in the "
    "new session against the view.",
    oracle="""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def catalog_global_temp_view(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceGlobalTempView("orders_global")
    other = spark.newSession()
    return other.sql(
        """
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE)
                 AS revenue
        FROM global_temp.orders_global
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


@register(
    "scan_json_permissive_badrecords",
    "sources",
    doc="Malformed-JSON handling on ingest (the JSONL twin of the CSV "
    "permissive scan): every 10th line of a JSONL feed is truncated "
    "mid-object; PERMISSIVE mode surfaces those lines in the corrupt-"
    "record column with NULL typed fields instead of failing the job. "
    "Output: good/bad counts + good-row sum, oracle-derived from the "
    "generation rule.",
    oracle="""
WITH rows_ AS (SELECT UNNEST(GENERATE_SERIES(0, 99)) AS id)
SELECT CAST(SUM(CASE WHEN id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       CAST(SUM(CASE WHEN id % 10 <> 0 THEN id * 7 END) AS BIGINT) AS sum_good_val
FROM rows_
""",
)
def scan_json_permissive_badrecords(spark, sf_dir):
    import os

    def build():
        d = store.tempdir("cascade_badjson")
        path = os.path.join(d, "feed.jsonl")
        with open(path, "w") as fh:
            for i in range(100):
                line = f'{{"id": {i}, "val": {i * 7}}}'
                fh.write((line[: len(line) // 2] if i % 10 == 0 else line) + "\n")
        return path

    path = store.fixture("sql_features.bad_jsonl", sf_dir, build)
    df = (
        spark.read.schema("id long, val long, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .cache()
    )
    return df.agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)).cast("long").alias("n_bad"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("val"))).cast("long").alias("sum_good_val"),
    )


@register(
    "sql_udf_create_function",
    "functions",
    doc="SQL scalar UDF (Spark 4 CREATE FUNCTION ... RETURN expr): a "
    "price-band classifier declared ONCE in the catalog and reused by "
    "name. Unlike Python UDFs, SQL UDFs inline into the plan at "
    "analysis time — the banding expression runs inside whole-stage "
    "codegen with zero serialization boundary, which is why they are "
    "the first tool for shared business logic at scale. Oracle inlines "
    "the same expression.",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM orders
GROUP BY 1 ORDER BY band
""",
)
def sql_udf_create_function(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION price_band(x DOUBLE) RETURNS STRING
RETURN CASE WHEN x < 50000 THEN 'low'
            WHEN x < 150000 THEN 'mid'
            ELSE 'high' END
"""
    )
    return spark.sql(
        """
SELECT price_band(o_totalprice) AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM orders_v
GROUP BY 1 ORDER BY band
"""
    )


@register(
    "sql_scripting_batch",
    "functions",
    doc="SQL scripting (Spark 4 BEGIN...END): procedural control flow "
    "— DECLARE'd variables and a WHILE loop driving real queries — "
    "without leaving SQL; each iteration counts orders above a rising "
    "price threshold and accumulates. The loop runs on the driver but "
    "every statement inside is a full distributed query; the oracle is "
    "the unrolled closed form.",
    oracle="""
SELECT CAST(4 AS BIGINT) AS n_iterations,
       CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice > 50000)
          + (SELECT COUNT(*) FROM orders WHERE o_totalprice > 100000)
          + (SELECT COUNT(*) FROM orders WHERE o_totalprice > 150000)
          + (SELECT COUNT(*) FROM orders WHERE o_totalprice > 200000)
          AS BIGINT) AS total_above
""",
)
def sql_scripting_batch(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
BEGIN
  DECLARE k INT = 1;
  DECLARE total BIGINT = 0;
  WHILE k <= 4 DO
    SET total = total
      + (SELECT COUNT(*) FROM orders_v WHERE o_totalprice > k * 50000);
    SET k = k + 1;
  END WHILE;
  SELECT CAST(4 AS BIGINT) AS n_iterations, CAST(total AS BIGINT) AS total_above;
END
"""
    )


@register(
    "pandas_api_rolling_sum",
    "functions",
    doc="Pandas API on Spark (pyspark.pandas): the day-count series "
    "wrapped as a distributed pandas DataFrame, 7-day rolling sum via "
    "the pandas idiom (.rolling(7).sum()) — the migration surface for "
    "pandas codebases; underneath it compiles to the same RANGE/ROWS "
    "window Catalyst plans natively. Counts are exact integers so the "
    "result hash-checks against the window oracle (NULL until the "
    "window fills, pandas min_periods semantics).",
    oracle="""
WITH daily AS (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
),
rolled AS (
    SELECT day, c,
           SUM(c) OVER (ORDER BY day ROWS 6 PRECEDING) AS s,
           ROW_NUMBER() OVER (ORDER BY day) AS rn
    FROM daily
)
SELECT day, c, CASE WHEN rn >= 7 THEN CAST(s AS BIGINT) END AS rolling_7d
FROM rolled ORDER BY day
""",
)
def pandas_api_rolling_sum(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    psdf = daily.pandas_api(index_col="day").sort_index()
    psdf["rolling_7d"] = psdf["c"].rolling(7).sum()
    out = psdf.reset_index().to_spark()
    return out.select(
        "day", F.col("c").cast("long").alias("c"),
        F.col("rolling_7d").cast("long").alias("rolling_7d"),
    ).orderBy("day")


@register(
    "agg_transpose_summary",
    "aggregations",
    doc="DataFrame.transpose (Spark 4): the per-event-type metrics "
    "summary flipped so metrics are rows and types are columns — the "
    "report-orientation step after aggregation. Transpose happens on "
    "the |types|-row summary, never raw data (it collects the index "
    "column to name the new schema — fine for a summary, wrong for a "
    "fact table; that boundary is the point of the demo). Oracle "
    "builds the same pivoted shape by hand.",
    oracle="""
WITH s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
)
SELECT 'n_events' AS key,
       (SELECT n_events FROM s WHERE event_type='click') AS click,
       (SELECT n_events FROM s WHERE event_type='error') AS error,
       (SELECT n_events FROM s WHERE event_type='purchase') AS purchase,
       (SELECT n_events FROM s WHERE event_type='signup') AS signup,
       (SELECT n_events FROM s WHERE event_type='view') AS view
UNION ALL
SELECT 'n_users',
       (SELECT n_users FROM s WHERE event_type='click'),
       (SELECT n_users FROM s WHERE event_type='error'),
       (SELECT n_users FROM s WHERE event_type='purchase'),
       (SELECT n_users FROM s WHERE event_type='signup'),
       (SELECT n_users FROM s WHERE event_type='view')
ORDER BY key
""",
)
def agg_transpose_summary(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    summary = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("event_type")
    )
    return summary.transpose().orderBy("key")


@register(
    "fn_str_to_map_kv",
    "functions",
    doc="str_to_map parsing of delimited key:value tag strings — the "
    "non-JSON config/tag format (k1:v1,k2:v2) every log pipeline "
    "eventually meets — with typed element_at extraction; round-trip "
    "pinned against the source columns by the oracle. Map stays "
    "columnar; no UDF.",
    oracle="""
SELECT doc_id, lang AS lang_v, source AS source_v,
       CAST(n_chars AS BIGINT) AS len_v
FROM documents
ORDER BY doc_id
""",
)
def fn_str_to_map_kv(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    kv = F.concat_ws(
        ",",
        F.concat(F.lit("lang:"), F.col("lang")),
        F.concat(F.lit("source:"), F.col("source")),
        F.concat(F.lit("len:"), F.col("n_chars").cast("string")),
    )
    parsed = d.select("doc_id", kv.alias("kv")).select(
        "doc_id", F.expr("str_to_map(kv, ',', ':')").alias("m")
    )
    return parsed.select(
        "doc_id",
        F.element_at("m", "lang").alias("lang_v"),
        F.element_at("m", "source").alias("source_v"),
        F.element_at("m", "len").cast("long").alias("len_v"),
    ).orderBy("doc_id")


@register(
    "sql_pipe_syntax",
    "functions",
    doc="SQL pipe syntax (Spark 4 / GoogleSQL '|>' operators): the "
    "linear FROM -> WHERE -> EXTEND -> AGGREGATE -> ORDER BY form of a "
    "revenue rollup — each |> stage consumes the previous table, so "
    "queries read top-to-bottom like a DataFrame chain. Parses to the "
    "identical Catalyst plan as the nested-SELECT equivalent (the "
    "oracle), so pushdown/pruning are unchanged.",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE)
           AS revenue
FROM lineitem
WHERE l_quantity >= 10
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sql_pipe_syntax(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe_v")
    return spark.sql(
        """
FROM lineitem_pipe_v
|> WHERE l_quantity >= 10
|> EXTEND CAST(l_extendedprice AS DECIMAL(12,4))
          * (1 - CAST(l_discount AS DECIMAL(12,4))) AS vol
|> AGGREGATE COUNT(*) AS n_items,
             CAST(ROUND(SUM(vol), 2) AS DOUBLE) AS revenue
   GROUP BY l_returnflag
|> SELECT l_returnflag, CAST(n_items AS BIGINT) AS n_items, revenue
|> ORDER BY l_returnflag
"""
    )


@register(
    "sql_identifier_clause",
    "sql",
    doc="Parameterized IDENTIFIER() clause (Spark 4 SQL): the table name "
    "arrives as a named parameter and binds through IDENTIFIER(:tbl) — "
    "the injection-safe form of dynamic table dispatch (string-"
    "concatenated SQL is the alternative and the classic injection "
    "hole). Runs against a registered temp view of nation; DuckDB "
    "oracle is the static equivalent.",
    oracle="""
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(n_name) AS first_name
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def sql_identifier_clause(spark, sf_dir):
    t(spark, sf_dir, "nation").createOrReplaceTempView("cascade_ident_nation")
    return spark.sql(
        """
        SELECT n_regionkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(n_name) AS first_name
        FROM IDENTIFIER(:tbl)
        GROUP BY n_regionkey
        ORDER BY n_regionkey
        """,
        args={"tbl": "cascade_ident_nation"},
    )


@register(
    "sql_execute_immediate",
    "sql",
    doc="EXECUTE IMMEDIATE (Spark 4 dynamic SQL): the query text is a "
    "runtime string and its parameters bind through USING — the "
    "engine-side prepared-statement form of dynamic SQL (vs. string "
    "concatenation, the injection hole). The inner statement is a full "
    "distributed aggregation; only the SQL *text* is dynamic, so the "
    "plan is identical to the static form the oracle runs.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM orders
WHERE o_totalprice > 100000 AND o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sql_execute_immediate(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("cascade_exec_orders")
    stmt = (
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT)) "
        "AS BIGINT) AS cents "
        "FROM cascade_exec_orders "
        "WHERE o_totalprice > ? AND o_orderstatus = ? "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE cascade_exec_stmt STRING")
    spark.sql("SET VAR cascade_exec_stmt = :s", args={"s": stmt})
    return spark.sql(
        "EXECUTE IMMEDIATE cascade_exec_stmt USING 100000, 'F'"
    )


@register(
    "sql_table_valued_udf",
    "sql",
    doc="SQL table-valued UDF (Spark 4 CREATE FUNCTION ... RETURNS "
    "TABLE): a per-segment top-spender relation declared once and "
    "invoked per outer row via LATERAL correlation — the SQL-native "
    "parameterized view. Like scalar SQL UDFs it inlines at analysis "
    "time into a plain correlated join (no per-row re-execution, no "
    "serialization boundary), which is what keeps it usable on a "
    "billion-row outer side. Trap (empirically pinned): ORDER BY/LIMIT "
    "in the TVF body is NOT applied per correlated invocation under "
    "LATERAL in Spark 4.1 — the top-2 must be a ROW_NUMBER filter in "
    "the body instead. Oracle is the inlined window form.",
    oracle="""
WITH ranked AS (
  SELECT c.c_mktsegment, c.c_name,
         CAST(CAST(c.c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal_cents,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY c.c_acctbal DESC, c.c_name) AS rk
  FROM customer c
)
SELECT c_mktsegment, c_name, bal_cents, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 2
ORDER BY c_mktsegment, rk
""",
)
def sql_table_valued_udf(spark, sf_dir):
    t(spark, sf_dir, "customer").createOrReplaceTempView("cascade_tvf_customer")
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION cascade_top_spenders(seg STRING)
RETURNS TABLE(c_name STRING, bal_cents BIGINT, rk BIGINT)
RETURN
  SELECT c_name, bal_cents, rk FROM (
    SELECT c_name,
           CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal_cents,
           CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_name) AS BIGINT)
               AS rk
    FROM cascade_tvf_customer
    WHERE c_mktsegment = seg)
  WHERE rk <= 2
"""
    )
    return spark.sql(
        """
SELECT s.c_mktsegment, f.c_name, f.bal_cents, f.rk
FROM (SELECT DISTINCT c_mktsegment FROM cascade_tvf_customer) s,
     LATERAL cascade_top_spenders(s.c_mktsegment) f
ORDER BY s.c_mktsegment, f.rk
"""
    )


@register(
    "sql_session_variables",
    "sql",
    doc="SQL session variables (Spark 4 DECLARE / SET VAR): thresholds "
    "declared once at session scope and referenced by NAME inside a "
    "distributed query — parameterization without string templating "
    "or repeated literals (and, unlike EXECUTE IMMEDIATE's USING "
    "list, reusable across many statements). Variables fold to "
    "literals at analysis time, so pushdown/pruning see constants. "
    "Oracle inlines the same values.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_big,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_finished
FROM orders
WHERE o_totalprice > 150000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sql_session_variables(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("cascade_var_orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE cascade_price_floor DOUBLE DEFAULT 0.0"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE cascade_done_status STRING DEFAULT ''"
    )
    spark.sql("SET VAR cascade_price_floor = 150000.0")
    spark.sql("SET VAR cascade_done_status = 'F'")
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_big,
       CAST(SUM(CASE WHEN o_orderstatus = cascade_done_status
                THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
FROM cascade_var_orders
WHERE o_totalprice > cascade_price_floor
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
    )


@register(
    "sql_pipe_lateral_having",
    "sql",
    doc="SQL pipe syntax, part 2 — the post-aggregation stages the "
    "basic sql_pipe_syntax rollup doesn't exercise: a pipe WHERE "
    "placed AFTER |> AGGREGATE (the pipe spelling of HAVING, "
    "filtering on the aggregate's output column by NAME, which "
    "classic SQL forbids in HAVING) over the orders priority rollup. "
    "Desugars to the same Aggregate+Filter plan as the classic "
    "HAVING form the oracle runs. Money in exact integer cents.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM orders
WHERE o_orderstatus <> 'P'
GROUP BY o_orderpriority
HAVING COUNT(*) > 10
ORDER BY o_orderpriority
""",
)
def sql_pipe_lateral_having(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("cascade_pipe_orders")
    return spark.sql(
        """
FROM cascade_pipe_orders
|> WHERE o_orderstatus <> 'P'
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
   GROUP BY o_orderpriority
|> WHERE n_orders > 10
|> ORDER BY o_orderpriority
"""
    )


@register(
    "window_named_window_clause",
    "sql",
    doc="Named WINDOW clause: window specifications (customer "
    "partition, date+key order; plus its framed twin) declared once "
    "in a WINDOW clause and shared by four "
    "ranking/offset/frame functions — the SQL-level dedup of window "
    "definitions. Catalyst collapses same-spec window functions into "
    "ONE WindowExec (single sort, single pass), so naming the window "
    "is also the plan-hygiene idiom: accidental spec drift between "
    "OVER clauses forks the sort. Oracle uses the identical WINDOW "
    "clause (ANSI, both engines).",
    oracle="""
SELECT o_orderkey,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       CAST(LAG(o_orderkey) OVER w AS BIGINT) AS prev_key,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            OVER w2 AS BIGINT) AS run_cents,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_cust
FROM orders
WHERE o_custkey % 100 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, rn
""",
)
def window_named_window_clause(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("cascade_winclause_orders")
    return spark.sql(
        """
SELECT o_orderkey,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       CAST(LAG(o_orderkey) OVER w AS BIGINT) AS prev_key,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            OVER w2 AS BIGINT) AS run_cents,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_cust
FROM cascade_winclause_orders
WHERE o_custkey % 100 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, rn
"""
    )


@register(
    "sql_default_columns",
    "sql",
    doc="Column DEFAULT values (Spark 3.4+ DDL): a managed table "
    "declares defaults for status and score; rows arrive through "
    "three insert shapes — explicit DEFAULT keyword, a partial "
    "column list (missing columns take defaults), and INSERT ... "
    "SELECT providing only the key column. The read-back is "
    "hash-checked against an oracle that replays the default rule "
    "as CASE logic over the same source rows — the schema-evolution "
    "primitive that lets a 100 TB table add a column without "
    "rewriting history.",
    oracle="""
WITH src AS (
    SELECT o_orderkey FROM orders WHERE o_orderkey % 501 = 0
)
SELECT o_orderkey AS id,
       'backfill' AS status,
       CAST(100 AS BIGINT) AS score
FROM src
UNION ALL
SELECT 1000000001, 'new', 100
UNION ALL
SELECT 1000000002, 'done', 5
ORDER BY id
""",
)
def sql_default_columns(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("cascade_def_orders")
    spark.sql("DROP TABLE IF EXISTS cascade_default_cols")
    # external per-process location — the in-memory catalog is
    # session-scoped, so a stable warehouse path would collide across
    # processes (catalog_managed_table_dml's rationale)
    loc = store.tempdir("cascade_defcols")
    spark.sql(
        f"""
CREATE TABLE cascade_default_cols (
    id BIGINT,
    status STRING DEFAULT 'new',
    score BIGINT DEFAULT 100
) USING parquet LOCATION '{loc}/t'
"""
    )
    spark.sql(
        "INSERT INTO cascade_default_cols VALUES "
        "(1000000001, DEFAULT, DEFAULT), (1000000002, 'done', 5)"
    )
    spark.sql(
        """
INSERT INTO cascade_default_cols (id, status)
SELECT o_orderkey, 'backfill' FROM cascade_def_orders
WHERE o_orderkey % 501 = 0
"""
    )
    return spark.sql(
        "SELECT id, status, score FROM cascade_default_cols ORDER BY id"
    )
