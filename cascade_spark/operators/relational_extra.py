"""Relational-surface extras (round 4, late batch): explicit join
strategy hints, parameterized SQL, union-by-name schema alignment,
bitwise aggregates, contingency tables, exact-sum correlation, and the
hidden ``_metadata`` file-audit columns.

Each is the built-in JVM/codegen form; determinism follows the registry
contract (decimal accumulation, exact integer arithmetic, IEEE-identical
final double expressions on both engines).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark.operators._util import d2, dec, t
from cascade_spark import store
from cascade_spark.plans.registry import register


@register(
    "join_hint_strategies",
    "joins",
    doc="Explicit physical join-strategy hints: orders⋈customer forced "
    "to a ShuffledHashJoin (hint('shuffle_hash') — skips the sort when "
    "the build side fits per-partition memory) and the result⋈nation "
    "forced to a SortMergeJoin (hint('merge') — the both-sides-large "
    "strategy AQE would normally pick only past the broadcast "
    "threshold). Result is identical to the unhinted plan — the hints "
    "change only the physical strategy, which the plan test pins "
    "(tests/test_plans.py). At 100 TB these hints are how a pipeline "
    "author overrides a misestimated build side without rewriting the "
    "query.",
    oracle="""
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""",
)
def join_hint_strategies(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    per_nation = (
        orders.join(cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(dec("o_totalprice")).alias("rev_dec"),
        )
    )
    return (
        per_nation.join(nation.hint("merge"), per_nation.c_nationkey == nation.n_nationkey)
        .select("n_name", "n_orders", d2(F.col("rev_dec")).alias("revenue"))
        .orderBy("n_name")
    )


@register(
    "sql_parameterized",
    "subqueries",
    doc="Parameterized SQL (Spark 3.4+): named ':param' placeholders "
    "bound via spark.sql(query, args=...) plus DataFrame template "
    "substitution ('{orders}' → a Python DataFrame object). The "
    "injection-safe form of dynamic SQL — parameters are bound as "
    "typed literals by the parser, never string-spliced, so Catalyst "
    "still constant-folds and pushes the predicates down to the scan.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice > 150000.0
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sql_parameterized(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE)
                 AS revenue
        FROM {orders}
        WHERE o_totalprice > :minp
          AND o_orderdate < CAST(:cutoff AS TIMESTAMP)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"minp": 150000.0, "cutoff": "1999-01-01 00:00:00"},
        orders=orders,
    )


@register(
    "setop_union_by_name",
    "setops",
    doc="Schema-aligned union: customers and suppliers project different "
    "column orders and the supplier side lacks the segment column; "
    "unionByName(allowMissingColumns=True) aligns by NAME (position-"
    "based unionAll would mis-zip) and null-fills the missing column — "
    "DuckDB's UNION ALL BY NAME is the exact SQL analog. The follow-up "
    "aggregate proves the null-fill: segment is counted only on the "
    "customer side.",
    oracle="""
WITH unioned AS (
    SELECT c_name AS name, c_acctbal AS balance,
           CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS segment
    FROM customer
    UNION ALL BY NAME
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey, s_name AS name,
           s_acctbal AS balance
    FROM supplier
)
SELECT nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_parties,
       CAST(COUNT(segment) AS BIGINT) AS n_with_segment,
       CAST(ROUND(SUM(CAST(balance AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_balance
FROM unioned
GROUP BY nationkey
ORDER BY nationkey
""",
)
def setop_union_by_name(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("balance"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("balance"),
    )
    return (
        cust.unionByName(supp, allowMissingColumns=True)
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parties"),
            F.count("segment").cast("long").alias("n_with_segment"),
            d2(F.sum(dec("balance"))).alias("total_balance"),
        )
        .orderBy("nationkey")
    )


@register(
    "agg_bitwise",
    "aggregations",
    doc="Bitwise aggregates (bit_and / bit_or / bit_xor over user_id "
    "bits per event type) + bit_count popcount of the OR — the "
    "bitmap-rollup shape behind feature-flag audits and bitmap-index "
    "maintenance. All integer, map-side combinable, one shuffle.",
    oracle="""
SELECT event_type,
       CAST(BIT_AND(user_id) AS BIGINT) AS all_bits,
       CAST(BIT_OR(user_id) AS BIGINT) AS any_bits,
       CAST(BIT_XOR(user_id) AS BIGINT) AS parity_bits,
       CAST(BIT_COUNT(BIT_OR(user_id)) AS BIGINT) AS any_popcount
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_bitwise(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("user_id").cast("long").alias("all_bits"),
            F.bit_or("user_id").cast("long").alias("any_bits"),
            F.bit_xor("user_id").cast("long").alias("parity_bits"),
            F.bit_count(F.bit_or("user_id")).cast("long").alias("any_popcount"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_crosstab",
    "aggregations",
    doc="Contingency table: df.stat.crosstab(status, priority) — the "
    "pairwise frequency matrix (one shuffle on the row key, priorities "
    "pivoted to columns). Oracle = conditional FILTER counts per "
    "status, proving crosstab ≡ pivoted COUNT(*).",
    oracle="""
SELECT CAST(o_orderstatus AS VARCHAR) AS o_orderstatus_o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS "1-URGENT",
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS "2-HIGH",
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS "3-MEDIUM",
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT)
         AS "4-NOT SPECIFIED",
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS "5-LOW"
FROM orders
GROUP BY o_orderstatus
ORDER BY 1
""",
)
def stats_crosstab(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    ct = orders.stat.crosstab("o_orderstatus", "o_orderpriority")
    return ct.orderBy("o_orderstatus_o_orderpriority")


@register(
    "stats_correlation",
    "aggregations",
    doc="Pearson correlation + sample covariance of (quantity, price) "
    "per return flag, computed from EXACT integer moment sums (values "
    "quantized to scale-4 units; sums in decimal(38,0)/HUGEINT) so the "
    "result is bit-identical across engines — the repo's decimal "
    "discipline applied to second moments. Native corr()/covar_samp() "
    "float-accumulate in partition order (agg_correlation survives "
    "only behind ROUND(...,4); its match is magnitude-luck, not a "
    "guarantee); the exact-sums form is guaranteed AND still ONE "
    "map-side-combinable aggregate pass, so it scales identically.",
    oracle="""
WITH u AS (
    SELECT l_returnflag,
           CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10000 AS BIGINT) AS q,
           CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 10000 AS BIGINT) AS e
    FROM lineitem
), s AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(q AS HUGEINT)) AS sq,
           SUM(CAST(e AS HUGEINT)) AS se,
           SUM(CAST(q AS HUGEINT) * q) AS sqq,
           SUM(CAST(e AS HUGEINT) * e) AS see,
           SUM(CAST(q AS HUGEINT) * e) AS sqe
    FROM u GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND(CAST(n * sqe - sq * se AS DOUBLE)
             / SQRT(CAST(n * sqq - sq * sq AS DOUBLE)
                    * CAST(n * see - se * se AS DOUBLE)), 6) AS corr_qty_price,
       ROUND(CAST(n * sqe - sq * se AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE) / 100000000.0, 6) AS covar_samp
FROM s
ORDER BY l_returnflag
""",
)
def stats_correlation(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        (dec("l_quantity") * 10000).cast("long").alias("q"),
        (dec("l_extendedprice") * 10000).cast("long").alias("e"),
    )
    big = "decimal(38,0)"
    s = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("q").cast(big)).alias("sq"),
        F.sum(F.col("e").cast(big)).alias("se"),
        F.sum((F.col("q") * F.col("q")).cast(big)).alias("sqq"),
        F.sum((F.col("e") * F.col("e")).cast(big)).alias("see"),
        F.sum((F.col("q") * F.col("e")).cast(big)).alias("sqe"),
    )
    n, sq, se = F.col("n"), F.col("sq"), F.col("se")
    cov_num = (n * F.col("sqe") - sq * se).cast("double")
    varq = (n * F.col("sqq") - sq * sq).cast("double")
    vare = (n * F.col("see") - se * se).cast("double")
    return s.select(
        "l_returnflag",
        "n",
        F.round(cov_num / F.sqrt(varq * vare), 6).alias("corr_qty_price"),
        F.round(cov_num / (n * (n - 1)).cast("double") / F.lit(1e8), 6).alias("covar_samp"),
    ).orderBy("l_returnflag")


@register(
    "maintenance_file_metadata_audit",
    "maintenance",
    doc="Hidden _metadata columns on file sources: per input file, its "
    "name, row count and max _metadata.row_index (must equal rows-1 — "
    "pinning the within-file ordinal semantics); _metadata.file_size "
    "is read too and asserted positive (it can't be oracle-compared: "
    "DuckDB's read_blob needs a literal path, and the oracle string is "
    "fixed across sf dirs — tests/test_extensions.py checks the size "
    "against os.path.getsize instead). This is the no-extra-scan form "
    "of the file-level audits a lakehouse maintenance job runs before "
    "compaction. Fixture tables are single files; at scale the same "
    "query groups by thousands of file names unchanged.",
    oracle="""
SELECT * FROM (
    SELECT 'customer.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - 1 AS BIGINT) AS max_row_index
    FROM customer
    UNION ALL
    SELECT 'lineitem.parquet', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - 1 AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders.parquet', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - 1 AS BIGINT)
    FROM orders
) ORDER BY file_name
""",
)
def maintenance_file_metadata_audit(spark, sf_dir):
    frames = []
    for name in ("customer", "lineitem", "orders"):
        # raw read: _metadata must be selected on the file-source frame
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        frames.append(
            raw.select(
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.file_size").alias("file_size"),
                F.col("_metadata.row_index").alias("row_index"),
            )
            .filter(F.col("file_size") > 0)
            .groupBy("file_name")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.max("row_index").cast("long").alias("max_row_index"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("file_name")


@register(
    "stats_skew_kurtosis",
    "aggregations",
    doc="Skewness + excess kurtosis of l_quantity per return flag from "
    "EXACT integer raw-moment sums (quantities are integral 1..50, so "
    "S1..S4 fit bigint exactly); the central-moment formula then runs "
    "as ONE identical double expression on both engines — the "
    "stats_correlation discipline extended to 3rd/4th moments. "
    "Cross-checked against native F.skewness/F.kurtosis in tests. One "
    "combinable aggregate pass, no second scan for the mean.",
    oracle="""
WITH s AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q) AS BIGINT) AS s1,
           CAST(SUM(q * q) AS BIGINT) AS s2,
           CAST(SUM(q * q * q) AS BIGINT) AS s3,
           CAST(SUM(q * q * q * q) AS BIGINT) AS s4
    FROM (SELECT l_returnflag,
                 CAST(CAST(l_quantity AS DECIMAL(12,4)) AS BIGINT) AS q
          FROM lineitem)
    GROUP BY l_returnflag
), r AS (
    SELECT l_returnflag, n,
           CAST(s1 AS DOUBLE) / n AS mu,
           CAST(s2 AS DOUBLE) / n AS r2,
           CAST(s3 AS DOUBLE) / n AS r3,
           CAST(s4 AS DOUBLE) / n AS r4
    FROM s
), m AS (
    SELECT l_returnflag, n, mu,
           r2 - mu * mu AS m2,
           r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
           r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu AS m4
    FROM r
)
SELECT l_returnflag, n,
       ROUND(m3 / (m2 * SQRT(m2)), 6) AS skewness,
       ROUND(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
FROM m
ORDER BY l_returnflag
""",
)
def stats_skew_kurtosis(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    q = F.col("q")
    s = (
        li.select("l_returnflag", dec("l_quantity").cast("long").alias("q"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(q).cast("long").alias("s1"),
            F.sum(q * q).cast("long").alias("s2"),
            F.sum(q * q * q).cast("long").alias("s3"),
            F.sum(q * q * q * q).cast("long").alias("s4"),
        )
    )
    n = F.col("n")
    r = s.select(
        "l_returnflag",
        "n",
        (F.col("s1").cast("double") / n).alias("mu"),
        (F.col("s2").cast("double") / n).alias("r2"),
        (F.col("s3").cast("double") / n).alias("r3"),
        (F.col("s4").cast("double") / n).alias("r4"),
    )
    mu, r2, r3, r4 = F.col("mu"), F.col("r2"), F.col("r3"), F.col("r4")
    # parenthesization mirrors the oracle exactly — identical IEEE ops
    m = r.select(
        "l_returnflag",
        "n",
        (r2 - mu * mu).alias("m2"),
        (r3 - F.lit(3) * mu * r2 + F.lit(2) * mu * mu * mu).alias("m3"),
        (
            r4
            - F.lit(4) * mu * r3
            + F.lit(6) * mu * mu * r2
            - F.lit(3) * mu * mu * mu * mu
        ).alias("m4"),
    )
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    return m.select(
        "l_returnflag",
        "n",
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3), 6).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


@register(
    "agg_bitmap_distinct",
    "aggregations",
    doc="Exact distinct counting via the bitmap family (Spark 3.5+): "
    "user ids bucketed with bitmap_bucket_number, positions packed by "
    "bitmap_construct_agg, counted with bitmap_count, then the bucket "
    "partials summed per group — COUNT(DISTINCT) as a two-level "
    "mergeable aggregate. At 100 TB this is the pattern that replaces "
    "a full re-shuffle of raw ids with compact bitmap partials (and "
    "the stored-bitmap form supports incremental refresh, unlike a "
    "plain distinct).",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_bitmap_distinct(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("b")
    ).agg(
        F.bitmap_count(
            F.bitmap_construct_agg(F.bitmap_bit_position("user_id"))
        ).alias("cnt")
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum("cnt").cast("long").alias("n_distinct_users"))
        .orderBy("event_type")
    )


@register(
    "catalog_managed_table_dml",
    "sources",
    doc="Catalog-table DML: CREATE (saveAsTable) + INSERT INTO ... "
    "SELECT + query-by-name through the session catalog — the DDL/DML "
    "surface a SQL-first user drives instead of DataFrame writes. The "
    "insert appends the signup rows a second time; the oracle doubles "
    "them relationally. External per-process location (the in-memory "
    "catalog is session-scoped; a stable warehouse path would collide "
    "across processes — same rationale as bucketing.bucketed_tables).",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM (
    SELECT event_type FROM events
    UNION ALL
    SELECT event_type FROM events WHERE event_type = 'signup'
)
GROUP BY event_type
ORDER BY event_type
""",
)
def catalog_managed_table_dml(spark, sf_dir):
    import re
    tag = re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.strip("/"))[-30:].strip("_")
    name = f"events_dml_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = store.tempdir("cascade_dml")
    (
        t(spark, sf_dir, "events")
        .select("event_id", "event_type", "user_id")
        .write.option("path", f"{base}/{name}")
        .mode("overwrite")
        .saveAsTable(name)
    )
    spark.sql(
        f"INSERT INTO {name} "
        f"SELECT event_id, event_type, user_id FROM {name} "
        f"WHERE event_type = 'signup'"
    )
    return spark.sql(
        f"SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM {name} GROUP BY event_type ORDER BY event_type"
    )


@register(
    "window_range_numeric_frame",
    "windows",
    doc="Value-based RANGE frame over a numeric axis: for every "
    "customer, how many same-nation peers sit within ±$100 of their "
    "balance (inclusive bounds, exact integer cents so the frame edges "
    "are unambiguous) — the peer-band shape behind percentile bands "
    "and local-density scoring. One shuffle on nationkey; the frame "
    "scan is linear per partition (two moving pointers), not "
    "quadratic.",
    oracle="""
WITH c AS (
    SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
    FROM customer
)
SELECT c_custkey, nationkey, cents,
       CAST(COUNT(*) OVER (
           PARTITION BY nationkey ORDER BY cents
           RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS BIGINT)
         AS n_peers_within_100
FROM c
ORDER BY c_custkey
""",
)
def window_range_numeric_frame(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("nationkey"),
        (dec("c_acctbal") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("nationkey")
        .orderBy("cents")
        .rangeBetween(-10000, 10000)
    )
    return c.select(
        "c_custkey",
        "nationkey",
        "cents",
        F.count(F.lit(1)).over(w).cast("long").alias("n_peers_within_100"),
    ).orderBy("c_custkey")


@register(
    "join_broadcast_left_outer",
    "joins",
    doc="Broadcast LEFT OUTER join: the dimension (nations of one "
    "region) broadcasts as the build side — for outer joins Spark can "
    "only broadcast the NON-preserved side, and the plan test pins "
    "BroadcastHashJoin LeftOuter. Customers outside the region keep "
    "their row with nulls, coalesced into an 'other' bucket — the "
    "enrich-without-dropping pattern for reference-data joins at "
    "scale (fact never shuffles).",
    oracle="""
SELECT COALESCE(n.n_name, 'OTHER') AS nation_or_other,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,4))), 2) AS DOUBLE)
         AS total_balance
FROM customer c
LEFT JOIN (
    SELECT n_nationkey, n_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
) n ON c.c_nationkey = n.n_nationkey
GROUP BY COALESCE(n.n_name, 'OTHER')
ORDER BY nation_or_other
""",
)
def join_broadcast_left_outer(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    euro = (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("n_nationkey", "n_name")
    )
    joined = cust.join(
        F.broadcast(euro), cust.c_nationkey == euro.n_nationkey, "left_outer"
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("n_name"), F.lit("OTHER")).alias("nation_or_other")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            d2(F.sum(dec("c_acctbal"))).alias("total_balance"),
        )
        .orderBy("nation_or_other")
    )


@register(
    "agg_group_by_all",
    "aggregations",
    doc="GROUP BY ALL / ORDER BY ALL (Spark 3.4+/DuckDB shared SQL "
    "sugar): every non-aggregate select item becomes a grouping key — "
    "the drift-proof form for wide rollups where listing keys twice "
    "invites bugs. Identical physical plan to the explicit GROUP BY.",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
GROUP BY ALL
ORDER BY ALL
""",
)
def agg_group_by_all(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gba")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE)
                 AS revenue
        FROM lineitem_gba
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@register(
    "fn_date_calendar",
    "functions",
    doc="Calendar functions over order dates: quarter, ISO week, "
    "Monday-based weekday, month-end (last_day) and next-Monday "
    "(next_day — DuckDB lacks it, so the oracle derives it from isodow "
    "arithmetic, pinning the exact strictly-after semantics). Dates "
    "projected as strings per the registry timestamp rule.",
    oracle="""
SELECT DISTINCT STRFTIME(o_orderdate, '%Y-%m-%d') AS d,
       CAST(QUARTER(o_orderdate) AS BIGINT) AS q,
       CAST(WEEKOFYEAR(o_orderdate) AS BIGINT) AS iso_week,
       CAST(ISODOW(o_orderdate) - 1 AS BIGINT) AS weekday_mon0,
       STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       STRFTIME(CAST(o_orderdate AS DATE)
                + CAST(CASE WHEN (1 - ISODOW(o_orderdate) + 7) % 7 = 0 THEN 7
                            ELSE (1 - ISODOW(o_orderdate) + 7) % 7 END AS INTEGER),
                '%Y-%m-%d') AS next_monday
FROM orders
ORDER BY d
""",
)
def fn_date_calendar(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
            F.quarter("o_orderdate").cast("long").alias("q"),
            F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
            F.weekday("o_orderdate").cast("long").alias("weekday_mon0"),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.next_day(d, "Monday"), "yyyy-MM-dd").alias("next_monday"),
        )
        .distinct()
        .orderBy("d")
    )
