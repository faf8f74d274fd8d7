"""UDF / UDAF / UDTF surface (SURVEY.md §2B UDF section).

Demonstrates every Python-extension shape with the determinism rules
intact:
- scalar @pandas_udf (Arrow-vectorized, element-wise → bit-identical to
  the SQL formula, so oracle-checked);
- grouped applyInPandas (per-group pandas DataFrame in/out);
- row-at-a-time udf() — registered rows-only, deliberately tiny: it is
  the documented slow path (one serde round-trip per row) and exists for
  API completeness, not for use in hot paths.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier, dec, t


@F.pandas_udf(T.DoubleType())
def _net_price(ext: pd.Series, disc: pd.Series) -> pd.Series:
    # element-wise float64 ops — identical IEEE results to the SQL formula
    return ext * (1.0 - disc)


@register(
    "udf_pandas_scalar",
    doc="Scalar pandas UDF (Arrow-vectorized): net price per lineitem — "
    "element-wise float64 arithmetic matches the SQL expression exactly, "
    "so even the UDF path is hash-checked.",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS net_price
FROM lineitem
WHERE l_orderkey <= 1000
ORDER BY l_orderkey, l_linenumber
""",
)
def udf_pandas_scalar(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            _net_price("l_extendedprice", "l_discount").alias("net_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "udf_grouped_centroid",
    doc="Grouped applyInPandas: per-label embedding centroid-sum via "
    "numpy. Sums rounded to 2 (numpy pairwise vs sequential SQL "
    "accumulation differ in last ulps).",
    oracle="""
SELECT label,
       COUNT(DISTINCT vec_id) AS n_vecs,
       ROUND(SUM(CAST(elem AS DOUBLE)), 2) AS sum_all_elems
FROM (SELECT vec_id, label, UNNEST(embedding) AS elem FROM embeddings)
GROUP BY label
ORDER BY label
""",
)
def udf_grouped_centroid(spark, sf_dir):
    import numpy as np

    e = t(spark, sf_dir, "embeddings")

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vecs": [len(pdf)],
                "sum_all_elems": [round(float(m.sum()), 2)],
            }
        )

    return (
        e.groupBy("label")
        .applyInPandas(centroid, schema="label int, n_vecs long, sum_all_elems double")
        .orderBy("label")
    )


@register(
    "udf_python_row",
    oracle=None,  # deliberately rows-only: the slow path, API completeness
    doc="Row-at-a-time Python UDF — the documented slow path (per-row "
    "serde); kept off hot paths, present for surface completeness.",
)
def udf_python_row(spark, sf_dir):
    @F.udf(T.StringType())
    def bucket(v):
        return "high" if v is not None and v > 100.0 else "low"

    ev = t(spark, sf_dir, "events")
    return (
        ev.limit(100)
        .select("event_id", bucket("value").alias("bucket"))
        .orderBy("event_id")
    )


@register(
    "udtf_chunk_documents",
    doc="Python UDTF (table function): expand each document into 10-word "
    "chunks with per-chunk word counts — the document-splitting shape of "
    "a training-data pipeline. Deterministic → fully hash-checked "
    "against a generate_series oracle.",
    oracle="""
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(LEAST(10, LEN(STRING_SPLIT(text, ' ')) - i * 10) AS BIGINT) AS n_words
FROM documents,
     LATERAL (SELECT UNNEST(GENERATE_SERIES(0,
                CAST(CEIL(LEN(STRING_SPLIT(text, ' ')) / 10.0) AS BIGINT) - 1)) AS i)
ORDER BY doc_id, chunk_idx
""",
)
def udtf_chunk_documents(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx: long, n_words: long")
    class ChunkDoc:
        def eval(self, text: str):
            words = text.split(" ")
            for i in range(0, (len(words) + 9) // 10):
                yield i, min(10, len(words) - i * 10)

    ChunkDoc = spark.udtf.register("chunk_doc", ChunkDoc)
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.n_words
        FROM documents d, LATERAL chunk_doc(d.text) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


@register(
    "text_tfidf_mllib",
    oracle=None,  # MLlib HashingTF/IDF — deterministic but not SQL-expressible
    doc="MLlib text pipeline: RegexTokenizer → HashingTF → IDF over "
    "documents (north-star text analysis, MLlib flavor). Deterministic "
    "(murmur3 fixed seed) but not SQL-expressible → rows-only check.",
)
def text_tfidf_mllib(spark, sf_dir):
    try:
        from pyspark.ml.feature import IDF, HashingTF, RegexTokenizer
    except ImportError:  # pragma: no cover
        return t(spark, sf_dir, "documents").select("doc_id").limit(0)

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = RegexTokenizer(inputCol="text", outputCol="words", pattern=r"\s+")
    words = tok.transform(d)
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=1 << 12)
    # Lazy checkpoint (round 12): IDF.fit is an eager pass over tfd and
    # idf.transform a second one, and the final orderBy's range sampler
    # re-executes its child a third time — without the barrier the
    # tokenizer+HashingTF pipeline ran 3x per invocation (guide §1.4).
    # The barrier materializes tfd once (the fit pass pins the blocks);
    # transform and the sort read blocks. A/B sf0.1 warm: 3.9 -> 1.9 s.
    tfd = tf.transform(words).transform(barrier)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tfd)
    out = idf.transform(tfd)
    # project a stable scalar per doc (vector norm) for the rows check
    from pyspark.ml.functions import vector_to_array

    return out.select(
        "doc_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    vector_to_array("tfidf"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
            4,
        ).alias("tfidf_norm"),
    ).orderBy("doc_id")


@register(
    "udf_arrow_row",
    doc="Arrow-optimized Python UDF (Spark 3.5+/4 useArrow=True): the "
    "same row signature as udf_python_row but with Arrow-batched "
    "transfer instead of per-row pickling — the drop-in upgrade tier "
    "between the legacy row UDF and a full pandas_udf rewrite. "
    "Deterministic string math, so unlike the legacy row demo this one "
    "is hash-checked.",
    oracle="""
SELECT event_id,
       CASE WHEN value > 100.0 THEN 'high'
            WHEN value > 50.0 THEN 'mid'
            ELSE 'low' END AS tier,
       CAST(CAST(FLOOR(value) AS BIGINT) % 10 AS BIGINT) AS last_digit
FROM events
ORDER BY event_id
""",
)
def udf_arrow_row(spark, sf_dir):
    import math

    @F.udf(T.StringType(), useArrow=True)
    def tier(v):
        if v is None:
            return None
        return "high" if v > 100.0 else ("mid" if v > 50.0 else "low")

    @F.udf(T.LongType(), useArrow=True)
    def last_digit(v):
        return None if v is None else int(math.floor(v)) % 10

    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id", tier("value").alias("tier"), last_digit("value").alias("last_digit")
    ).orderBy("event_id")


@register(
    "udf_cogrouped_pandas",
    doc="Cogrouped applyInPandas (the two-sided grouped-pandas API): "
    "clicks and purchases cogrouped per user, merged in one pandas "
    "function computing counts and the first-click→first-purchase gap "
    "in exact epoch microseconds (nanosecond pandas values floor-divide "
    "to µs losslessly — fixture timestamps are µs-grained). Keys "
    "present on either side appear (full-outer cogroup semantics), so "
    "the oracle is a FULL OUTER join of the two per-user aggregates. "
    "Scale: one shuffle per side on user_id, then per-key pandas — the "
    "same distribution as a sort-merge join with custom merge logic.",
    oracle="""
WITH c AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clicks,
           MIN(ts) AS first_click
    FROM events WHERE event_type = 'click' GROUP BY user_id
), p AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           MIN(ts) AS first_purchase
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       COALESCE(c.n_clicks, 0) AS n_clicks,
       COALESCE(p.n_purchases, 0) AS n_purchases,
       CAST(EPOCH_US(p.first_purchase) - EPOCH_US(c.first_click) AS BIGINT)
         AS first_gap_us
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
ORDER BY user_id
""",
)
def udf_cogrouped_pandas(spark, sf_dir):
    # Each side MUST come from its own scan: when both derive from one
    # DataFrame (self-cogroup), Spark 4.1's attribute dedup resolves the
    # right side's (user_id, ts) to the LEFT side's expression ids —
    # under an aggregate consumer the right child is then column-pruned
    # to the grouping key alone and the pandas function receives a
    # ts-less right frame (observed: FlatMapCoGroupsInPandas
    # merge(user_id#2, ts#1, user_id#2, ts#1) with the right Project
    # keeping only user_id). Distinct scans give distinct ids; pinned by
    # tests/test_round4_extras.py::test_cogroup_checksum_consumer.
    # Explicit partition count on the cogroup key (round 12): by bytes
    # this shuffle is tiny, so AQE coalesced it to ONE partition and the
    # per-key pandas stage — whose cost is per-GROUP Python round trips,
    # not bytes — ran every group serially in a single task (guide §2.2:
    # partition by the stage's real cost driver). An explicit count is
    # not coalesced; session cores keep it scale-adaptive.
    par = spark.sparkContext.defaultParallelism
    clicks = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts")
        .repartition(par, "user_id")
    )
    purchases = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .repartition(par, "user_id")
    )

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        gap = None
        if len(left) and len(right):
            # .value is ns since epoch; // 1000 is exact for µs-grained data
            gap = right["ts"].min().value // 1000 - left["ts"].min().value // 1000
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [len(left)],
                "n_purchases": [len(right)],
                "first_gap_us": [gap],
            }
        )

    out = (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema="user_id long, n_clicks long, n_purchases long, first_gap_us long",
        )
    )
    # Lazy lineage truncation before the global sort (round 12): orderBy
    # range-partitions by SAMPLING its child, so without the barrier the
    # whole cogroup+pandas pipeline executed TWICE (sample pass +
    # exchange pass — guide §1.4's hidden-double-execution class). With
    # the barrier the sampler reads materialized blocks. A/B sf0.1 warm
    # (repartition + barrier together): 9.2 s -> 1.9 s per invocation.
    return out.transform(barrier).orderBy("user_id")


@register(
    "udf_map_in_arrow",
    doc="mapInArrow — the Arrow-native per-partition map: each "
    "RecordBatch is pre-aggregated with pyarrow's group_by (exact "
    "int64 cents, quantized JVM-side by the decimal cast BEFORE Python "
    "so no float crosses the boundary), then a normal groupBy "
    "final-merges the partials. This is map-side combine written "
    "explicitly in Arrow — the pattern for Python pre-aggregation that "
    "ships partials, not rows, into the shuffle at 100 TB.",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def udf_map_in_arrow(spark, sf_dir):
    import pyarrow as pa

    from cascade_spark.operators._util import dec

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", (dec("l_extendedprice") * 100).cast("long").alias("cents")
    )

    def partial(batches):
        for b in batches:
            yield from (
                pa.Table.from_batches([b])
                .group_by(["l_returnflag"])
                .aggregate([("cents", "sum"), ("cents", "count")])
                .to_batches()
            )

    partials = li.mapInArrow(
        partial, schema="l_returnflag string, cents_sum long, cents_count long"
    )
    return (
        partials.groupBy("l_returnflag")
        .agg(
            F.sum("cents_count").cast("long").alias("n_rows"),
            F.sum("cents_sum").cast("long").alias("total_cents"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "fn_inline_array_structs",
    doc="Array-of-structs roundtrip: lineitems per order collected into "
    "a linenumber-sorted array of (linenumber, cents) structs, then "
    "inline-exploded back with posexplode — position must equal "
    "linenumber rank, values must survive unchanged. This is the "
    "nest/unnest pair behind denormalized event payloads; the oracle "
    "reconstructs positions with a row_number window. One shuffle to "
    "nest; the explode is flatMap-shaped.",
    oracle="""
SELECT l_orderkey,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber,
                    CAST(CAST(l_quantity AS DECIMAL(12,4)) * 100 AS BIGINT)
       ) - 1 AS BIGINT) AS pos,
       CAST(l_linenumber AS BIGINT) AS linenumber,
       CAST(CAST(l_quantity AS DECIMAL(12,4)) * 100 AS BIGINT) AS qty_cents
FROM lineitem
WHERE l_orderkey <= 1000
ORDER BY l_orderkey, pos
""",
)
def fn_inline_array_structs(spark, sf_dir):
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            F.struct(
                F.col("l_linenumber").cast("long").alias("linenumber"),
                (dec("l_quantity") * 100).cast("long").alias("qty_cents"),
            ).alias("s"),
        )
    )
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("s")).alias("lines")
    )
    return (
        nested.select("l_orderkey", F.posexplode("lines").alias("pos", "s"))
        .select(
            "l_orderkey",
            F.col("pos").cast("long").alias("pos"),
            F.col("s.linenumber").alias("linenumber"),
            F.col("s.qty_cents").alias("qty_cents"),
        )
        .orderBy("l_orderkey", "pos")
    )


@register(
    "udf_grouped_apply_in_arrow",
    doc="Grouped applyInArrow (Spark 4) — the Arrow-native sibling of "
    "applyInPandas: each group arrives as a pyarrow.Table, aggregated "
    "with pyarrow.compute on exact int64 cents (quantized JVM-side), "
    "no pandas materialization. Completes the Python-boundary matrix "
    "(pandas_udf / applyInPandas / cogroup / mapInPandas / mapInArrow "
    "/ applyInArrow); same one-shuffle distribution as a grouped agg.",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents,
       CAST(MAX(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS max_cents
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def udf_grouped_apply_in_arrow(spark, sf_dir):
    import pyarrow as pa
    import pyarrow.compute as pc

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", (dec("l_extendedprice") * 100).cast("long").alias("cents")
    )

    def agg(table: pa.Table) -> pa.Table:
        cents = table.column("cents")
        return pa.table(
            {
                "l_returnflag": [table.column("l_returnflag")[0].as_py()],
                "n_rows": pa.array([table.num_rows], pa.int64()),
                "total_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
            }
        )

    return (
        li.groupBy("l_returnflag")
        .applyInArrow(
            agg, schema="l_returnflag string, n_rows long, total_cents long, max_cents long"
        )
        .orderBy("l_returnflag")
    )


@F.pandas_udf(T.LongType())
def _cents_sum(cents: pd.Series) -> int:
    # int64 summation — exact and order-independent, so the UDAF is
    # hash-checkable unlike a float reduction
    return int(cents.sum())


@register(
    "udf_pandas_grouped_agg",
    doc="Grouped-aggregate pandas UDF (Series -> scalar), the custom-"
    "UDAF tier: one exact int64-cents reducer used BOTH as a groupBy "
    "aggregate and as a whole-partition window function (pandas UDAFs "
    "only admit unbounded frames) to derive each priority bucket's "
    "largest single-order revenue share in floor basis points. "
    "Arrow-batched; exact integers end-to-end so even the UDAF path is "
    "hash-checked. At scale the groupBy side is NOT map-side combinable "
    "(pandas UDAFs ship raw groups) — the documented trade vs built-in "
    "SUM; the window side shuffles once on the same key.",
    oracle="""
WITH o AS (
    SELECT o_orderpriority,
           (CAST(o_totalprice AS DECIMAL(12,4)) * 100)::BIGINT AS cents
    FROM orders
),
tot AS (
    SELECT o_orderpriority, CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM o GROUP BY o_orderpriority
)
SELECT o_orderpriority, total_cents, n_orders,
       (10000 * max_cents) // total_cents AS max_share_bp
FROM tot
ORDER BY o_orderpriority
""",
)
def udf_pandas_grouped_agg(spark, sf_dir):
    from pyspark.sql import Window

    from cascade_spark.operators._util import _intdiv, bigint, dec

    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority", (dec("o_totalprice") * 100).cast("long").alias("cents")
    )
    # window use: the UDAF evaluates once per whole partition (unbounded
    # frame), giving every row its group total without a join
    w = Window.partitionBy("o_orderpriority")
    per_row = o.select(
        "o_orderpriority",
        "cents",
        _cents_sum("cents").over(w).alias("w_total"),
    )
    # Spark refuses to mix a pandas UDAF with plain aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — the UDAF gets its own
    # grouped pass and the built-ins theirs, joined on the 5-row key
    udaf_tot = per_row.groupBy("o_orderpriority").agg(
        _cents_sum(F.col("cents")).alias("total_cents")
    )
    plain = per_row.groupBy("o_orderpriority").agg(
        bigint(F.count(F.lit(1))).alias("n_orders"),
        F.max("cents").alias("max_cents"),
        F.max("w_total").alias("w_total"),
    )
    return (
        udaf_tot.join(plain, "o_orderpriority")
        # the two paths must agree — fold the window result into the
        # output via the share computation (w_total == total_cents)
        .select(
            "o_orderpriority",
            "total_cents",
            "n_orders",
            _intdiv(F.lit(10000) * F.col("max_cents"), F.col("w_total")).alias(
                "max_share_bp"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "udtf_table_arg_per_user",
    doc="Polymorphic Python UDTF over a TABLE argument (Spark 4): "
    "per_user_summary(TABLE(events) PARTITION BY user_id ORDER BY "
    "(ts, event_id)) — the engine shuffles rows to the UDTF by the "
    "declared key and feeds each partition's rows in the declared "
    "order, so the class's eval/terminate see exactly one user in "
    "(ts, event_id) sequence: streaming per-key state without "
    "applyInPandas. Exact fields only (counts, distinct-type count, "
    "ordered first/last), so the UDTF path is hash-checked. At scale "
    "this is one user_id shuffle; state per task is one user's "
    "accumulator at a time.",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       MAX(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
       MAX(CASE WHEN rn_d = 1 THEN event_type END) AS last_type
FROM seq
GROUP BY user_id
ORDER BY user_id
""",
)
def udtf_table_arg_per_user(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, n bigint, n_types bigint, "
        "first_type string, last_type string"
    )
    class PerUserSummary:
        def __init__(self):
            self.uid = None
            self.n = 0
            self.types = set()
            self.first = None
            self.last = None

        def eval(self, row):
            self.uid = row["user_id"]
            self.n += 1
            self.types.add(row["event_type"])
            if self.first is None:
                self.first = row["event_type"]
            self.last = row["event_type"]

        def terminate(self):
            if self.n:
                yield (self.uid, self.n, len(self.types), self.first, self.last)

    spark.udtf.register("per_user_summary", PerUserSummary)
    t(spark, sf_dir, "events").createOrReplaceTempView("udtf_events_in")
    return spark.sql(
        "SELECT * FROM per_user_summary(TABLE(udtf_events_in) "
        "PARTITION BY user_id ORDER BY (ts, event_id)) ORDER BY user_id"
    )


@register(
    "udf_pandas_scalar_iter",
    doc="SCALAR_ITER pandas UDF — the Iterator[pd.Series] form whose "
    "point is amortizing expensive per-worker initialization (model "
    "load, compiled regex, codec table) across every Arrow batch "
    "instead of paying it per batch: init runs once before the loop, "
    "then streams batches. Here the init compiles the tokenizer regex; "
    "the per-doc token count is exact so the query hash-checks (unlike "
    "a model score, which would be rows-only).",
    oracle="""
SELECT doc_id,
       CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
FROM documents
ORDER BY doc_id
""",
)
def udf_pandas_scalar_iter(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def tok_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        # one-time per-worker init, amortized over all Arrow batches
        splitter = re.compile(r"\s+")
        for s in batches:
            # strip(' ') not strip(): the oracle's DuckDB TRIM strips
            # only spaces — stripping tabs/newlines too would diverge
            # on text with leading/trailing non-space whitespace
            yield s.map(lambda x: len(splitter.split(x.strip(" "))))

    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", tok_count("text").alias("n_tokens")).orderBy("doc_id")


@register(
    "udtf_polymorphic_analyze",
    doc="Polymorphic Python UDTF (Spark 4 analyze()): the output schema "
    "is COMPUTED at plan time from a literal argument — top_words(text, "
    "k) emits k columns w1..wk (the per-row top-k tokens by count, ties "
    "lexicographic). AnalyzeResult builds the StructType from the bound "
    "k, so one UDTF serves any width without code changes — the "
    "schema-on-demand shape feature extractors want. Deterministic -> "
    "fully hash-checked against a per-rank MIN/CASE oracle.",
    oracle="""
WITH tok AS (
    SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
    GROUP BY doc_id, w
),
rk AS (
    SELECT doc_id, w,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS r
    FROM tok
)
SELECT doc_id,
       MIN(CASE WHEN r = 1 THEN w END) AS w1,
       MIN(CASE WHEN r = 2 THEN w END) AS w2,
       MIN(CASE WHEN r = 3 THEN w END) AS w3
FROM rk
GROUP BY doc_id
ORDER BY doc_id
""",
)
def udtf_polymorphic_analyze(spark, sf_dir):
    from collections import Counter

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class TopWords:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(int(k.value)):
                schema = schema.add(f"w{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, k: int):
            counts = Counter(text.split(" "))
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            row = [w for w, _ in top] + [None] * (k - len(top))
            yield tuple(row)

    spark.udtf.register("cascade_top_words", TopWords)
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, tw.w1, tw.w2, tw.w3
        FROM documents d, LATERAL cascade_top_words(d.text, 3) tw
        ORDER BY d.doc_id
        """
    )


@F.pandas_udf(T.LongType())
def _pdw_cents_sum(v: pd.Series) -> int:
    # exact: int64 cents, pandas sum is integer arithmetic
    return int(v.sum())


@register(
    "udf_pandas_window_agg",
    doc="GROUPED_AGG pandas UDF evaluated OVER a bounded window frame — "
    "the fourth pandas-UDF execution shape (scalar / grouped-map / "
    "grouped-agg / windowed-agg): each frame's cents Series crosses to "
    "Python via Arrow and the custom aggregate runs per frame, the "
    "escape hatch for rolling metrics no built-in expresses (rolling "
    "quantile sketches, custom decay). Here the aggregate is an exact "
    "integer sum so the DuckDB SUM OVER the identical frame "
    "hash-checks the frame semantics themselves (bounds, ordering, "
    "partitioning). Sampled to user_id%100=0 like "
    "window_rolling_median.",
    oracle="""
WITH c AS (
    SELECT user_id, ts, event_id,
           CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
    FROM events
),
r AS (
    SELECT user_id, ts, event_id, cents,
           CAST(SUM(cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS roll_cents,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM c
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(rn AS BIGINT) AS rn, cents, roll_cents
FROM r WHERE user_id % 100 = 0
ORDER BY user_id, rn
""",
)
def udf_pandas_window_agg(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(12,4)") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    wn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        c.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.row_number().over(wn).cast("long").alias("rn"),
            "cents",
            _pdw_cents_sum("cents").over(w).alias("roll_cents"),
        )
        .filter(F.col("user_id") % 100 == 0)
        .orderBy("user_id", "rn")
    )


@register(
    "udtf_arrow_ngram_expand",
    doc="Arrow-optimized Python UDTF (useArrow=True — the 4th UDTF "
    "execution shape next to the pickled UDTF, the table-argument "
    "UDTF and the polymorphic analyze() UDTF): expand each document "
    "into its word-trigram spans with exact character offsets. Arrow "
    "batches replace per-row pickling on both the input and the "
    "yielded rows — the throughput-relevant variant for wide fan-out "
    "UDTFs. Deterministic → hash-checked against a pure-SQL "
    "generate_series oracle.",
    oracle="""
SELECT doc_id,
       CAST(i AS BIGINT) AS gram_idx,
       CAST(LEN(STRING_SPLIT(text, ' ')[i + 1]) AS BIGINT) AS w1_len,
       CAST(LEN(STRING_SPLIT(text, ' ')[i + 1]) +
            LEN(STRING_SPLIT(text, ' ')[i + 2]) +
            LEN(STRING_SPLIT(text, ' ')[i + 3]) + 2 AS BIGINT) AS span_chars
FROM documents,
     LATERAL (SELECT UNNEST(GENERATE_SERIES(0,
                LEN(STRING_SPLIT(text, ' ')) - 3)) AS i)
WHERE LEN(STRING_SPLIT(text, ' ')) >= 3
ORDER BY doc_id, gram_idx
""",
)
def udtf_arrow_ngram_expand(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="gram_idx: long, w1_len: long, span_chars: long", useArrow=True)
    class TrigramSpans:
        def eval(self, text: str):
            words = text.split(" ")
            for i in range(len(words) - 2):
                span = len(words[i]) + len(words[i + 1]) + len(words[i + 2]) + 2
                yield i, len(words[i]), span

    spark.udtf.register("trigram_spans_arrow", TrigramSpans)
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, g.gram_idx, g.w1_len, g.span_chars
        FROM documents d, LATERAL trigram_spans_arrow(d.text) g
        ORDER BY d.doc_id, g.gram_idx
        """
    )
