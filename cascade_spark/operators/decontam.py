"""Benchmark decontamination — flag training documents that overlap an
evaluation/benchmark set (the n-gram-overlap decontamination step every
LLM training pipeline runs before training).

The "benchmark set" is carved deterministically out of ``documents``
(md5(doc_id) % 20 == 0, ~5% — same reproducible-hash convention as
``pipeline_train_split``); in production it would be the eval suites.

Scale design (100 TB corpus, MB-scale benchmark):
- The benchmark n-gram index is tiny relative to the corpus — it is
  **broadcast**, so contamination scoring is a map-only pass over the
  corpus shingles: no corpus-sized shuffle for the join, and the one
  groupBy(doc_id) is map-side combinable.
- Single aggregation pass computes both the doc's shingle count and its
  shared-with-benchmark count (LEFT JOIN against the broadcast index,
  COUNT vs COUNT(matched)) — the corpus is read once.
- The overlap test (|shared|·5 ≥ |shingles|, i.e. ≥ 20%) is exact
  integer arithmetic on both engines; the reported fraction is display
  only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import t
from cascade_spark.operators.dedup import _SQL_SHINGLES, _shingles
from cascade_spark.plans.registry import register

BENCH_MOD = 20  # md5(doc_id) % 20 == 0 → ~5% of docs play the benchmark


def _bench_flag():
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % BENCH_MOD
        == 0
    )


@register(
    "pipeline_decontaminate",
    doc="Benchmark decontamination: word-3-gram shingles of a "
    "deterministic ~5% 'benchmark' slice form a broadcast index; every "
    "other doc is scored map-only against it (one shingle pass, one "
    "combinable groupBy) and flagged when ≥ 20% of its shingles appear "
    "in the benchmark (exact integer test). Output = the contaminated "
    "docs a pipeline would drop before training.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
bench AS (
    SELECT doc_id FROM documents
    WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {BENCH_MOD} = 0
),
bn AS (
    SELECT DISTINCT s FROM sh WHERE doc_id IN (SELECT doc_id FROM bench)
),
stats AS (
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(bn.s) AS BIGINT) AS n_shared
    FROM sh LEFT JOIN bn ON sh.s = bn.s
    WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
    GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / n_shingles, 4) AS overlap
FROM stats
WHERE n_shared * 5 >= n_shingles
ORDER BY doc_id
""",
)
def pipeline_decontaminate(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # split on doc_id BEFORE shingling (the flag pushes to the scan):
    # the benchmark slice is shingled once at ~5% cost, the corpus once
    # at ~95% — not the full corpus twice through the shared plan
    bench_ngrams = (
        _shingles(d.filter(_bench_flag()))
        .select("s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    stats = (
        _shingles(d.filter(~_bench_flag()))
        .join(F.broadcast(bench_ngrams), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_shared"),
        )
    )
    return (
        stats.filter(F.col("n_shared") * 5 >= F.col("n_shingles"))
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_shingles"), 4).alias(
                "overlap"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "pipeline_contamination_split_report",
    doc="Contamination-by-split release gate: the decontamination scorer "
    "(broadcast benchmark n-gram index, map-only scoring) crossed with "
    "the deterministic train/val/test assignment — the per-split "
    "contamination rates a dataset card must publish before release. "
    "One shingle pass + one combinable per-doc aggregate + one tiny "
    "per-split rollup; the corpus never shuffles for the benchmark "
    "join. Rates in exact floor basis points.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
bench AS (
    SELECT doc_id FROM documents
    WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {BENCH_MOD} = 0
),
bn AS (
    SELECT DISTINCT s FROM sh WHERE doc_id IN (SELECT doc_id FROM bench)
),
stats AS (
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(bn.s) AS BIGINT) AS n_shared
    FROM sh LEFT JOIN bn ON sh.s = bn.s
    WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
    GROUP BY sh.doc_id
),
tagged AS (
    SELECT s.doc_id,
           CASE WHEN ('0x' || SUBSTR(MD5(CAST(s.doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 100 < 80 THEN 'train'
                WHEN ('0x' || SUBSTR(MD5(CAST(s.doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           CASE WHEN s.n_shared * 5 >= s.n_shingles THEN 1 ELSE 0 END AS dirty
    FROM stats s
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dirty) AS BIGINT) AS n_contaminated,
       CAST((10000 * SUM(dirty)) // COUNT(*) AS BIGINT) AS contamination_bp
FROM tagged GROUP BY split ORDER BY split
""",
)
def pipeline_contamination_split_report(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    d = t(spark, sf_dir, "documents")
    sh = _shingles(d)
    bench_ids = d.filter(_bench_flag()).select("doc_id")
    bn = (
        sh.join(bench_ids, "doc_id", "left_semi").select("s").distinct()
        .withColumn("_hit", F.lit(1))
    )
    stats = (
        sh.join(bench_ids, "doc_id", "left_anti")
        .join(F.broadcast(bn), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_shared"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    tagged = stats.select(
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
        F.when(F.col("n_shared") * 5 >= F.col("n_shingles"), 1).otherwise(0).alias("dirty"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dirty").cast("long").alias("n_contaminated"),
            _intdiv(F.lit(10000) * F.sum("dirty"), F.count(F.lit(1))).alias(
                "contamination_bp"
            ),
        )
        .orderBy("split")
    )
