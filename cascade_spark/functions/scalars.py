"""Scalar function surface — string / datetime / math / conditional /
format (SURVEY.md §2B Scalar functions).

These are all JVM-side built-ins (whole-stage codegen; no Python in the
hot path). Oracle queries restrict themselves to the Spark∩DuckDB
dialect subset and pin types (BIGINT / rounded DOUBLE / STRING) so the
hash compare is exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import bigint, t


@register(
    "fn_string",
    doc="String family: concat/substring/upper/lower/trim/length/lpad/"
    "instr/regexp_extract/regexp_replace (reference: event_name strings, "
    "proto/publish.proto:12).",
    oracle="""
SELECT doc_id,
       UPPER(lang) AS lang_up,
       LOWER(source) AS source_lo,
       CAST(LENGTH(text) AS BIGINT) AS text_len,
       SUBSTRING(text, 1, 10) AS prefix10,
       CONCAT(lang, ':', source) AS lang_source,
       LPAD(CAST(doc_id AS VARCHAR), 6, '0') AS padded_id,
       CAST(INSTR(text, 'data') AS BIGINT) AS data_pos,
       REGEXP_EXTRACT(text, '([a-z]+)', 1) AS first_word,
       TRIM(REGEXP_REPLACE(SUBSTRING(text, 1, 30), '[aeiou]', '_', 'g')) AS devoweled
FROM documents
ORDER BY doc_id
""",
)
def fn_string(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_up"),
        F.lower("source").alias("source_lo"),
        F.length("text").cast("long").alias("text_len"),
        F.substring("text", 1, 10).alias("prefix10"),
        F.concat_ws(":", "lang", "source").alias("lang_source"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded_id"),
        F.instr(F.col("text"), "data").cast("long").alias("data_pos"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.trim(F.regexp_replace(F.substring("text", 1, 30), "[aeiou]", "_")).alias("devoweled"),
    ).orderBy("doc_id")


@register(
    "fn_string_split",
    doc="split + explode word pivot: word frequency over documents "
    "(split is the SQL-side tokenizer for the text-analysis surface).",
    oracle="""
SELECT word, COUNT(*) AS n
FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word
LIMIT 30
""",
)
def fn_string_split(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(30)
    )


@register(
    "fn_datetime",
    doc="Datetime family: year/month/day/hour, date_trunc, date_add, "
    "datediff, unix_timestamp, date_format (reference R7 timestamp "
    "decode/format, src/broker/main.rs:36-48).",
    oracle="""
SELECT event_id,
       CAST(YEAR(ts) AS BIGINT) AS y,
       CAST(MONTH(ts) AS BIGINT) AS m,
       CAST(DAY(ts) AS BIGINT) AS d,
       CAST(HOUR(ts) AS BIGINT) AS h,
       STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
       STRFTIME(CAST(ts AS DATE) + 7, '%Y-%m-%d') AS plus_week,
       CAST(DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since_ny,
       CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS unix_sec,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS formatted
FROM events
ORDER BY event_id
""",
)
def fn_datetime(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
        F.date_format(F.date_add(F.col("ts").cast("date"), 7), "yyyy-MM-dd").alias("plus_week"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("days_since_ny"),
        F.unix_timestamp("ts").cast("long").alias("unix_sec"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("formatted"),
    ).orderBy("event_id")


@register(
    "fn_timestamp_parse",
    doc="to_timestamp / strptime roundtrip through a formatted string.",
    oracle="""
SELECT o_orderkey,
       STRFTIME(STRPTIME(STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                         '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS reparsed
FROM orders
ORDER BY o_orderkey
""",
)
def fn_timestamp_parse(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(
            F.to_timestamp(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"), "yyyy-MM-dd HH:mm:ss"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("reparsed"),
    ).orderBy("o_orderkey")


@register(
    "fn_math",
    doc="Math family: round/floor/ceil/abs/sqrt/pow/log/pmod/sign. "
    "Transcendentals rounded to 6 places (libm last-ulp differences).",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
       ABS(l_discount - 0.05) AS disc_dev,
       ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
       CAST(POW(2.0, l_linenumber) AS DOUBLE) AS pow2_line,
       ROUND(LN(l_extendedprice), 6) AS price_ln,
       CAST(((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS BIGINT) AS okey_mod7,
       CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign
FROM lineitem
ORDER BY l_orderkey, l_linenumber
""",
)
def fn_math(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.pow(F.lit(2.0), F.col("l_linenumber")).cast("double").alias("pow2_line"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.pmod(F.col("l_orderkey").cast("long"), F.lit(7)).cast("long").alias("okey_mod7"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "fn_conditional",
    doc="Conditional/null family: coalesce/nullif/greatest/least "
    "(reference R7 null fallbacks, src/broker/main.rs:42-46).",
    oracle="""
SELECT c.c_custkey,
       COALESCE(MAX(o.o_totalprice), 0.0) AS best_or_zero,
       NULLIF(c.c_mktsegment, 'BUILDING') AS seg_or_null,
       IFNULL(NULLIF(c.c_mktsegment, 'BUILDING'), 'OTHER') AS seg_nvl,
       GREATEST(c.c_acctbal, 1000.0) AS bal_floor1k,
       LEAST(c.c_acctbal, 5000.0) AS bal_cap5k
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal
ORDER BY c.c_custkey
""",
)
def fn_conditional(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment", "c_acctbal")
        .agg(F.coalesce(F.max("o_totalprice"), F.lit(0.0)).alias("best_or_zero"))
        .select(
            "c_custkey",
            "best_or_zero",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
            F.nvl(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
                "seg_nvl"
            ),
            F.greatest(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_floor1k"),
            F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_cap5k"),
        )
        .orderBy("c_custkey")
    )


@register(
    "fn_cast_format",
    doc="Cast / printf-style formatting (reference to_string uses, "
    "src/broker/main.rs:98,106).",
    oracle="""
SELECT event_id,
       CAST(TRUNC(value) AS BIGINT) AS value_int,
       CAST(CAST(TRUNC(value) AS INTEGER) AS DOUBLE) AS value_roundtrip,
       CAST(event_id AS VARCHAR) AS id_str,
       PRINTF('%s|%03d|%.2f', event_type, CAST(user_id AS INTEGER), value) AS formatted,
       FORMAT('{:,}', CAST(FLOOR(CAST(value * 1000 AS DECIMAL(12,2))) AS BIGINT))
         || '.' || LPAD(CAST(CAST(CAST(value * 1000 AS DECIMAL(12,2)) * 100 AS BIGINT) % 100
                             AS VARCHAR), 2, '0') AS grouped_number
FROM events
ORDER BY event_id
""",
)
def fn_cast_format(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("value").cast("long").alias("value_int"),
        F.col("value").cast("int").cast("double").alias("value_roundtrip"),
        F.col("event_id").cast("string").alias("id_str"),
        F.format_string(
            "%s|%03d|%.2f", F.col("event_type"), F.col("user_id").cast("int"), F.col("value")
        ).alias("formatted"),
        F.format_number((F.col("value") * 1000).cast("decimal(12,2)"), 2).alias("grouped_number"),
    ).orderBy("event_id")


@register(
    "fn_string_distance",
    doc="Edit-distance functions: levenshtein between every pair of "
    "distinct event_type values (fuzzy-matching primitive; the "
    "blocking-join form lives with the dedup operators). The distinct "
    "pair table is tiny — the crossJoin is a broadcast of a handful of "
    "rows, never data×data.",
    oracle="""
WITH tvals AS (SELECT DISTINCT event_type AS v FROM events)
SELECT a.v AS v1, b.v AS v2,
       CAST(LEVENSHTEIN(a.v, b.v) AS BIGINT) AS edit_dist,
       CAST(LEVENSHTEIN(SUBSTR(a.v, 1, 3), SUBSTR(b.v, 1, 3)) AS BIGINT) AS prefix_dist
FROM tvals a JOIN tvals b ON a.v < b.v
ORDER BY v1, v2
""",
)
def fn_string_distance(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    vals = ev.select(F.col("event_type").alias("v")).distinct()
    a = vals.select(F.col("v").alias("v1"))
    b = vals.select(F.col("v").alias("v2"))
    return (
        a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            F.levenshtein("v1", "v2").cast("long").alias("edit_dist"),
            F.levenshtein(F.substring("v1", 1, 3), F.substring("v2", 1, 3))
            .cast("long")
            .alias("prefix_dist"),
        )
        .orderBy("v1", "v2")
    )


@register(
    "fn_try_arithmetic",
    doc="Error-safe scalar family (try_divide / try_cast): NULL instead "
    "of runtime failure — the semantics a 100 TB batch job needs so one "
    "malformed row can't kill a 6-hour stage. Divide-by-zero nulls and "
    "unparseable casts are counted exactly; quotient extremes use "
    "min/max (order-independent, no float-accumulation hazard).",
    oracle="""
WITH q AS (
    SELECT o_orderkey,
           o_totalprice / NULLIF(o_custkey % 5, 0) AS quot,
           TRY_CAST(o_orderstatus AS INTEGER) AS bad_int,
           TRY_CAST(SUBSTR(CAST(o_orderkey AS VARCHAR), 1, 2) AS INTEGER) AS good_int
    FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE quot IS NULL) AS BIGINT) AS n_div_null,
       CAST(COUNT(*) FILTER (WHERE bad_int IS NULL) AS BIGINT) AS n_bad_cast,
       CAST(SUM(good_int) AS BIGINT) AS sum_good_int,
       ROUND(MIN(quot), 4) AS min_quot,
       ROUND(MAX(quot), 4) AS max_quot
FROM q
""",
)
def fn_try_arithmetic(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    q = o.select(
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 5).alias("quot"),
        F.col("o_orderstatus").try_cast("int").alias("bad_int"),
        F.substring(F.col("o_orderkey").cast("string"), 1, 2)
        .try_cast("int")
        .alias("good_int"),
    )
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("quot").isNull(), 1).otherwise(0)).cast("long").alias("n_div_null"),
        F.sum(F.when(F.col("bad_int").isNull(), 1).otherwise(0)).cast("long").alias("n_bad_cast"),
        F.sum("good_int").cast("long").alias("sum_good_int"),
        F.round(F.min("quot"), 4).alias("min_quot"),
        F.round(F.max("quot"), 4).alias("max_quot"),
    )


@register(
    "fn_interval_arithmetic",
    doc="Calendar-interval arithmetic over order dates: +3 days, "
    "+2 months with end-of-month clamping (add_months semantics — "
    "both engines clamp Jan 31 + 1 month to Feb 28/29), last_day, "
    "ISO-week truncation, and two exact day distances (to a fixed "
    "anchor and order-to-ship). All JVM-side date arithmetic in "
    "whole-stage codegen; safe cross-engine because every fixture "
    "timestamp is midnight (no partial-day boundary disagreements "
    "between Spark's timestampdiff and DuckDB's date_diff). Dates "
    "project as strings per the determinism contract.",
    oracle="""
SELECT o_orderkey,
       STRFTIME(o_orderdate + INTERVAL 3 DAY, '%Y-%m-%d') AS plus_3d,
       STRFTIME(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus_2mo,
       STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       STRFTIME(DATE_TRUNC('week', o_orderdate), '%Y-%m-%d') AS week_start,
       CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01')
            AS BIGINT) AS days_to_y2k
FROM orders
WHERE o_orderkey % 97 = 0
ORDER BY o_orderkey
""",
)
def fn_interval_arithmetic(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return o.select(
        "o_orderkey",
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS"), "yyyy-MM-dd"
        ).alias("plus_3d"),
        F.date_format(
            F.add_months(F.to_date("o_orderdate"), 2), "yyyy-MM-dd"
        ).alias("plus_2mo"),
        F.date_format(F.last_day(F.to_date("o_orderdate")), "yyyy-MM-dd").alias(
            "month_end"
        ),
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias(
            "week_start"
        ),
        F.datediff(
            F.lit("2000-01-01").cast("date"), F.to_date("o_orderdate")
        )
        .cast("long")
        .alias("days_to_y2k"),
    ).orderBy("o_orderkey")


@register(
    "fn_number_format_roundtrip",
    doc="to_char / to_number locale-format roundtrip: order totals "
    "rendered with grouping separators ('999,999,999.99' — to_char "
    "left-pads unused digit positions with spaces, trimmed here), "
    "then parsed back with to_number and verified against the exact "
    "integer cents. The oracle builds the identical rendering from "
    "integer cents (thousands grouping on the dollar part + "
    "zero-padded cents), so the string itself is hash-checked, not "
    "just the roundtrip flag. All JVM-side expressions.",
    oracle="""
WITH c AS (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 101 = 0
)
SELECT o_orderkey,
       cents,
       FORMAT('{:,}', cents // 100) || '.' ||
           LPAD(CAST(cents % 100 AS VARCHAR), 2, '0') AS pretty,
       CAST(1 AS BIGINT) AS roundtrip_ok
FROM c
ORDER BY o_orderkey
""",
)
def fn_number_format_roundtrip(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 == 0)
    cents = (F.col("o_totalprice").cast("decimal(12,4)") * 100).cast("long")
    base = o.select("o_orderkey", cents.alias("cents"))
    pretty = F.trim(
        F.expr("to_char(CAST(cents AS DECIMAL(14,2)) / 100, '999,999,999.99')")
    )
    return (
        base.withColumn("pretty", pretty)
        .withColumn(
            "roundtrip_ok",
            (
                (
                    F.expr("to_number(pretty, '999,999,999.99')") * 100
                ).cast("long")
                == F.col("cents")
            ).cast("long"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_luhn_check",
    doc="luhn_check (Spark 3.5+ built-in): mod-10 checksum validation "
    "for card-shaped identifiers — the screening predicate a PII "
    "scrub pipeline runs BEFORE treating a 13-19 digit run as a "
    "payment-card number (pipeline_pii_scrub's regex family finds "
    "candidates; Luhn separates real card numbers from arbitrary "
    "digit runs, cutting false-positive redactions ~10x). Candidates "
    "are deterministic 11-digit strings derived from order keys; the "
    "oracle reimplements the Luhn double-every-second-digit rule in "
    "SQL, so the built-in is verified digit-for-digit.",
    oracle="""
WITH cand AS (
    SELECT o_orderkey,
           LPAD(CAST((o_orderkey * 7919) % 100000000000 AS VARCHAR),
                11, '0') AS s
    FROM orders WHERE o_orderkey % 97 = 0
),
digits AS (
    SELECT o_orderkey, s, i,
           CAST(SUBSTR(s, LENGTH(s) - i + 1, 1) AS BIGINT) AS d
    FROM cand, UNNEST(GENERATE_SERIES(1, 11)) AS t(i)
),
scored AS (
    SELECT o_orderkey, s,
           SUM(CASE WHEN i % 2 = 0
                    THEN CASE WHEN 2 * d > 9 THEN 2 * d - 9 ELSE 2 * d END
                    ELSE d END) AS total
    FROM digits GROUP BY 1, 2
)
SELECT o_orderkey, s AS card_str,
       CAST(CASE WHEN total % 10 = 0 THEN 1 ELSE 0 END AS BIGINT) AS luhn_ok
FROM scored
ORDER BY o_orderkey
""",
)
def fn_luhn_check(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    cand = o.select(
        "o_orderkey",
        F.lpad(
            ((F.col("o_orderkey") * 7919) % 100000000000).cast("string"), 11, "0"
        ).alias("card_str"),
    )
    return cand.select(
        "o_orderkey",
        "card_str",
        F.expr("luhn_check(card_str)").cast("long").alias("luhn_ok"),
    ).orderBy("o_orderkey")


OVF_SCALE = 4_000_000_000_000_000_000  # ~2^61.8: two of these overflow int64


@register(
    "fn_try_sum_overflow",
    doc="try_sum / try_avg overflow semantics: ANSI sum aborts the "
    "query on int64 overflow, try_sum returns NULL for exactly the "
    "overflowing group and real sums elsewhere — the per-group "
    "degradation a 100 TB aggregation wants (one hot group must not "
    "kill the job). Groups are order statuses; status 'F' rows carry "
    f"a {OVF_SCALE}-scale value so any group with >=3 such rows "
    "overflows. The oracle computes the same sums in HUGEINT "
    "(DuckDB's silent int128 promotion) and replays the overflow "
    "rule as a CASE against the int64 bounds — so Spark's NULL "
    "placement is verified against exact wide arithmetic.",
    oracle=f"""
WITH v AS (
    SELECT o_orderstatus,
           CASE WHEN o_orderstatus = 'F' THEN CAST({OVF_SCALE} AS HUGEINT)
                ELSE CAST(o_orderkey AS HUGEINT) END AS x
    FROM orders WHERE o_orderkey % 11 = 0
),
agg AS (
    SELECT o_orderstatus, SUM(x) AS wide_sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM v GROUP BY o_orderstatus
)
SELECT o_orderstatus,
       n,
       CAST(CASE WHEN wide_sum BETWEEN -9223372036854775808
                                   AND 9223372036854775807
                 THEN wide_sum END AS BIGINT) AS try_total,
       CAST(CASE WHEN wide_sum BETWEEN -9223372036854775808
                                   AND 9223372036854775807
                 THEN 0 ELSE 1 END AS BIGINT) AS overflowed
FROM agg
ORDER BY o_orderstatus
""",
)
def fn_try_sum_overflow(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    v = o.select(
        "o_orderstatus",
        F.when(F.col("o_orderstatus") == "F", F.lit(OVF_SCALE).cast("long"))
        .otherwise(F.col("o_orderkey").cast("long"))
        .alias("x"),
    )
    return (
        v.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.try_sum("x").cast("long").alias("try_total"),
        )
        .select(
            "o_orderstatus",
            "n",
            "try_total",
            F.isnull("try_total").cast("long").alias("overflowed"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "fn_binary_encoding_roundtrip",
    doc="Binary encoding function family — base64/unbase64, hex/unhex, "
    "encode/decode(utf-8) — proven as ROUNDTRIPS (decode(encode(x)) == "
    "x is the contract a content-addressed blob store leans on) plus "
    "cross-checks: hex of the utf-8 bytes, base64 of those bytes, and "
    "a sha256 over the base64-decoded payload matching the direct "
    "hash. All JVM built-ins, codegen-friendly, applied to the nation "
    "names (bounded, deterministic).",
    oracle="""
SELECT n_nationkey,
       n_name,
       HEX(ENCODE(n_name)) AS name_hex,
       TO_BASE64(ENCODE(n_name)) AS name_b64,
       CASE WHEN DECODE(FROM_BASE64(TO_BASE64(ENCODE(n_name)))) = n_name
            THEN 1 ELSE 0 END AS b64_roundtrip_ok,
       CASE WHEN DECODE(UNHEX(HEX(ENCODE(n_name)))) = n_name
            THEN 1 ELSE 0 END AS hex_roundtrip_ok,
       SHA256(DECODE(FROM_BASE64(TO_BASE64(ENCODE(n_name))))) AS content_hash
FROM nation
ORDER BY n_nationkey
""",
)
def fn_binary_encoding_roundtrip(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    raw = F.encode(F.col("n_name"), "utf-8")
    b64 = F.base64(raw)
    hx = F.hex(raw)
    return n.select(
        "n_nationkey",
        "n_name",
        hx.alias("name_hex"),
        b64.alias("name_b64"),
        F.when(F.decode(F.unbase64(b64), "utf-8") == F.col("n_name"), 1)
        .otherwise(0)
        .cast("long")
        .alias("b64_roundtrip_ok"),
        F.when(F.decode(F.unhex(hx), "utf-8") == F.col("n_name"), 1)
        .otherwise(0)
        .cast("long")
        .alias("hex_roundtrip_ok"),
        F.sha2(F.unbase64(b64), 256).alias("content_hash"),
    ).orderBy("n_nationkey")


@register(
    "fn_time_type",
    doc="Spark 4 TIME type (spark.sql.timeType.enabled): project each "
    "event's time-of-day via make_time, truncate to the hour with "
    "time_trunc, EXTRACT minute, then aggregate events per truncated "
    "hour — mirrored against DuckDB's native TIME (make_time / "
    "whole-second components on both sides; the hour spine is 24 rows "
    "so the aggregate is map-side combinable at any scale).",
    oracle="""
WITH tt AS (
    SELECT make_time(CAST(EXTRACT(hour FROM ts) AS INT),
                     CAST(EXTRACT(minute FROM ts) AS INT), 0.0) AS tod
    FROM events
)
SELECT make_time(CAST(EXTRACT(hour FROM tod) AS INT), 0, 0.0) AS hour_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(EXTRACT(minute FROM tod)) AS BIGINT) AS first_minute,
       CAST(MAX(EXTRACT(minute FROM tod)) AS BIGINT) AS last_minute
FROM tt GROUP BY 1 ORDER BY hour_start
""",
)
def fn_time_type(spark, sf_dir):
    # spark.sql.timeType.enabled is a declared session default
    # (tables.ensure_session_confs), set by the t() load below — no
    # per-query conf mutation here.
    ev = t(spark, sf_dir, "events")
    tod = ev.select(
        F.expr(
            "make_time(CAST(extract(hour FROM ts) AS INT),"
            " CAST(extract(minute FROM ts) AS INT), 0)"
        ).alias("tod")
    )
    return (
        tod.select(
            F.expr("time_trunc('HOUR', tod)").alias("hour_start"),
            F.expr("CAST(extract(minute FROM tod) AS BIGINT)").alias("m"),
        )
        .groupBy("hour_start")
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            bigint(F.min("m")).alias("first_minute"),
            bigint(F.max("m")).alias("last_minute"),
        )
        .orderBy("hour_start")
    )


@register(
    "fn_scalar_additions_41",
    doc="Spark 4.1 scalar additions over the orders calendar: "
    "monthname/dayname (abbreviated English names, mirrored against "
    "DuckDB strftime '%b'/'%a'), zeroifnull on the otherwise-NULL "
    "high-value sum (mirrors COALESCE(...,0)), nullifzero on the "
    "zero-count guard (mirrors NULLIF). Grouped by order month-name x "
    "day-name — a bounded 12x7 spine, one combinable pass.",
    oracle="""
SELECT strftime(o_orderdate, '%b') AS mon,
       strftime(o_orderdate, '%a') AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(CASE WHEN CAST(o_totalprice AS DECIMAL(12,2))
                                   > 500000 THEN 1 END), 0) AS BIGINT)
           AS n_high_value,
       CAST(NULLIF(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0)
            AS BIGINT) AS n_pending_or_null
FROM orders
GROUP BY 1, 2 ORDER BY mon, dow
""",
)
def fn_scalar_additions_41(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.monthname("o_orderdate").alias("mon"),
            F.dayname("o_orderdate").alias("dow"),
        )
        .agg(
            bigint(F.count(F.lit(1))).alias("n_orders"),
            bigint(
                F.zeroifnull(
                    F.sum(
                        F.when(
                            F.col("o_totalprice").cast("decimal(12,2)")
                            > 500000,
                            F.lit(1),
                        )
                    )
                )
            ).alias("n_high_value"),
            bigint(
                F.nullifzero(
                    F.count(F.when(F.col("o_orderstatus") == "P", F.lit(1)))
                )
            ).alias("n_pending_or_null"),
        )
        .orderBy("mon", "dow")
    )
