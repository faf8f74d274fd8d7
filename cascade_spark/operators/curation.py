"""Corpus curation pipeline — the operators composed end-to-end.

What an LLM-data user actually runs: exact-dedup (keep first) → quality
gate → language ID → per-(lang, source) corpus stats. One declarative
plan: Catalyst fuses the per-doc feature projections into a single pass
over the corpus; the only shuffles are the dedup window and the final
small aggregate. At 100 TB this whole pipeline is ~2 shuffles.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier_eager, sql_avg_round, t, widen
from cascade_spark.operators.text import LANG_MARKERS, _sql_hits
from cascade_spark.operators.decontam import BENCH_MOD
from cascade_spark.operators.dedup import _SQL_SHINGLES

_QUALITY_SQL = """
    LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) * 10 >= LENGTH(text) * 7
    AND LEN(STRING_SPLIT(text, ' ')) >= 10
"""


@register(
    "pipeline_corpus_curation",
    "analytics",
    doc="Composed pipeline: exact-dedup keep-first (md5 fingerprint + "
    "row_number) → quality gate (alpha ratio ≥ 0.7, ≥ 10 words) → "
    "marker-lexicon language ID → per-(pred_lang, source) stats. "
    "Single-pass feature projection, two shuffles total.",
    oracle=f"""
WITH fp AS (
    SELECT doc_id, text, source,
           MD5(LOWER(TRIM(text))) AS fingerprint
    FROM documents
),
deduped AS (
    SELECT doc_id, text, source
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn FROM fp)
    WHERE rn = 1
),
quality AS (
    SELECT * FROM deduped WHERE {_QUALITY_SQL}
),
tagged AS (
    SELECT doc_id, source,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           CASE
             WHEN {_sql_hits('en')} >= {_sql_hits('de')} AND {_sql_hits('en')} > 0 THEN 'en'
             WHEN {_sql_hits('de')} > 0 THEN 'de'
             ELSE 'unknown'
           END AS pred_lang
    FROM quality
)
SELECT pred_lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {sql_avg_round("SUM(CAST(n_tokens AS DECIMAL(12,4)))", 2)} AS avg_tokens
FROM tagged
GROUP BY pred_lang, source
ORDER BY pred_lang, source
""",
)
def pipeline_corpus_curation(spark, sf_dir):
    from cascade_spark.operators._util import avg_round, dec

    d = widen(t(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    fp = d.select(
        "doc_id", "text", "source", F.md5(F.lower(F.trim("text"))).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = fp.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    quality = deduped.filter(
        (F.length(F.regexp_replace("text", "[^a-z]", "")) * 10 >= F.length("text") * 7)
        & (F.size(words) >= 10)
    )

    def hits(lang):
        arr = F.array([F.lit(x) for x in LANG_MARKERS[lang]])
        return F.size(F.filter(words, lambda x: F.array_contains(arr, x)))

    tagged = quality.select(
        "doc_id",
        "source",
        F.size(words).alias("n_tokens"),
        F.when((hits("en") >= hits("de")) & (hits("en") > 0), "en")
        .when(hits("de") > 0, "de")
        .otherwise("unknown")
        .alias("pred_lang"),
    )
    return (
        tagged.groupBy("pred_lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            avg_round(F.sum(dec("n_tokens")), F.count(F.lit(1)), 2).alias("avg_tokens"),
        )
        .orderBy("pred_lang", "source")
    )


@register(
    "pipeline_train_split",
    "analytics",
    doc="Deterministic train/val/test split: md5(doc_id) % 100 → "
    "80/10/10 buckets — a pure row function (reproducible across "
    "engines, partitionings, reruns; no seeded RNG), reported as "
    "per-split doc/char counts. Map-only + tiny aggregate.",
    oracle="""
WITH tagged AS (
    SELECT doc_id, n_chars,
           ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
FROM tagged
GROUP BY 1
ORDER BY split
""",
)
def pipeline_train_split(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split")
    )
    return (
        d.select(split, "n_chars", "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .orderBy("split")
    )


@register(
    "pipeline_pack_context_windows",
    "analytics",
    doc="Context-window packing: documents in doc_id order fill "
    "4096-token packs by running token total (cumulative-sum window → "
    "floor-divide bucket id) — the sequence-packing step before "
    "training. The running total is the two-phase range-partition + "
    "per-partition cumsum + broadcast-base form (ingest.assign_prefix_sum) "
    "— NO single-task global window, so the cumsum parallelizes across "
    "the cluster at 100 TB; per-pack stats out.",
    oracle="""
WITH toks AS (
    SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tok
    FROM documents
),
packed AS (
    SELECT doc_id, n_tok,
           (SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok)
             // 4096 AS pack_id
    FROM toks
)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM packed
GROUP BY pack_id
ORDER BY pack_id
""",
)
def pipeline_pack_context_windows(spark, sf_dir):
    from cascade_spark.operators.ingest import assign_prefix_sum

    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    packed = assign_prefix_sum(toks, ["doc_id"], "n_tok").select(
        "doc_id",
        "n_tok",
        F.floor(F.col("prefix_sum") / 4096).alias("pack_id"),
    )
    return (
        packed.groupBy(F.col("pack_id").cast("long").alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("pack_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


@register(
    "pipeline_domain_rebalance",
    "analytics",
    doc="Domain-mixture rebalancing: downsample each source toward a "
    "uniform target share with a deterministic md5-bucket keep rule. "
    "The keep test cross-multiplies to exact integers (bucket·k·n_src "
    "< total·2^32) — no float probability compare; reruns, engines and "
    "partitionings all agree. Per-source before/after counts out; the "
    "counts table is a broadcast, the fact is scanned once.",
    oracle="""
WITH counts AS (
    SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(n_before) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM counts
),
kept AS (
    SELECT d.source, COUNT(*) AS n_after
    FROM documents d
    JOIN counts c ON d.source = c.source
    CROSS JOIN tot t
    WHERE ('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          * t.k * c.n_before < t.total * 4294967296
    GROUP BY d.source
)
SELECT c.source, CAST(c.n_before AS BIGINT) AS n_before,
       CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after
FROM counts c LEFT JOIN kept k ON c.source = k.source
ORDER BY c.source
""",
)
def pipeline_domain_rebalance(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    tot = counts.agg(
        F.sum("n_before").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    kept = (
        d.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(tot))
        .filter(
            bucket * F.col("k") * F.col("n_before")
            < F.col("total") * F.lit(4294967296)
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_before").cast("long").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_stratified_sample",
    "analytics",
    doc="Deterministic fixed-size stratified sample: exactly k=25 docs "
    "per source stratum, chosen by md5(doc_id) rank — a reproducible "
    "'random' reservoir per stratum with no seeded RNG (identical "
    "across engines, partitionings and reruns). Per-group top-k by "
    "hash rank; at scale this is the same TakeOrdered-per-group shape "
    "as the sorts.per_group_topk operator (one shuffle on the stratum "
    "key, heap-k per partition — never a full sort of the stratum).",
    oracle="""
WITH ranked AS (
    SELECT source, doc_id, n_chars,
           MD5(CAST(doc_id AS VARCHAR)) AS hk,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY MD5(CAST(doc_id AS VARCHAR))) AS rk
    FROM documents
)
SELECT source, doc_id, n_chars, rk
FROM ranked
WHERE rk <= 25
ORDER BY source, rk
""",
)
def pipeline_stratified_sample(spark, sf_dir):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    hk = F.md5(F.col("doc_id").cast("string"))
    win = Window.partitionBy("source").orderBy(hk.asc())
    return (
        d.select("source", "doc_id", "n_chars", F.row_number().over(win).alias("rk"))
        .filter(F.col("rk") <= 25)
        .orderBy("source", "rk")
    )


@register(
    "pipeline_weighted_sample",
    "analytics",
    doc="Quality-weighted deterministic sampling: each doc keeps with "
    "probability proportional to a quality weight (here length-derived, "
    "capped at 1), decided by comparing an md5-uniform of the doc_id "
    "against the weight — reproducible across runs/engines, no rand(). "
    "This is how a curation pipeline downsamples low-quality strata "
    "without losing determinism for replay/audit. Map-only at scale.",
    oracle="""
WITH w AS (
    SELECT doc_id, source,
           LEAST(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS weight,
           CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
             / 4294967296.0 AS u
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE u < weight) AS BIGINT) AS n_kept,
       ROUND(CAST(COUNT(*) FILTER (WHERE u < weight) AS DOUBLE) / COUNT(*), 4) AS keep_rate
FROM w GROUP BY source ORDER BY source
""",
)
def pipeline_weighted_sample(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars").cast("double") / 2000.0, F.lit(1.0))
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    kept = F.when(u < weight, 1).otherwise(0)
    return (
        d.select("source", kept.alias("_kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_kept").cast("long").alias("n_kept"),
            F.round(F.sum("_kept").cast("double") / F.count(F.lit(1)), 4).alias("keep_rate"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_interleave_sources",
    "pipeline",
    doc="Deterministic source interleaving — the training-ORDER side of "
    "domain mixing (pipeline_domain_rebalance fixes proportions; this "
    "fixes the schedule): each source's docs take a per-source ordinal "
    "(row_number by doc_id within source), and the global order is "
    "(ordinal, source) — round-robin across sources, reproducible on "
    "any engine/partitioning, no RNG. Per-source windows shuffle on "
    "the source key only; a materialized global position at 100 TB "
    "would use the two-phase range-partition prefix sum "
    "(ingest.assign_prefix_sum) rather than a single-task window.",
    oracle="""
SELECT source,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS ordinal,
       doc_id
FROM documents
ORDER BY ordinal, source
""",
)
def pipeline_interleave_sources(spark, sf_dir):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.select(
            "source",
            F.row_number().over(w).cast("long").alias("ordinal"),
            "doc_id",
        )
        .orderBy("ordinal", "source")
    )


def _e2e_oracle() -> str:
    from cascade_spark.operators.dedup import N_HASHES, _SQL_PAIR_CTES

    return f"""
WITH {_SQL_PAIR_CTES},
neardup AS (SELECT DISTINCT d2 AS doc_id FROM sim WHERE matches * 2 >= {N_HASHES}),
fp AS (
    SELECT doc_id, text, source, MD5(LOWER(TRIM(text))) AS fingerprint
    FROM documents
),
deduped AS (
    SELECT doc_id, text, source
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn FROM fp)
    WHERE rn = 1
),
quality AS (SELECT * FROM deduped WHERE {_QUALITY_SQL}),
survivors AS (
    SELECT * FROM quality WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
),
spl AS (
    SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
           source, LEN(STRING_SPLIT(text, ' ')) AS n_tokens
    FROM (SELECT *, ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
          FROM survivors)
)
SELECT split, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {sql_avg_round("SUM(CAST(n_tokens AS DECIMAL(12,4)))", 2)} AS avg_tokens
FROM spl
GROUP BY split, source
ORDER BY split, source
"""


@register(
    "pipeline_pretraining_end_to_end",
    "pipeline",
    doc="The full pre-training corpus pipeline as ONE declared query: "
    "quality gate (alpha ratio, min words) -> exact-dedup keep-first "
    "(md5 fingerprint) -> MinHash near-dup drop (any doc appearing as "
    "the larger id in a >=0.5-estimated-Jaccard LSH pair is removed — "
    "the keep-earliest policy, reusing the shared persisted LSH pair "
    "frame) -> deterministic md5 train/val/test split -> dataset-card "
    "summary per (split, source). One DAG, one oracle: the SQL chain "
    "reuses the minhash CTEs verbatim, so every stage's semantics are "
    "pinned end-to-end, not just per-operator. At 100 TB each stage "
    "keeps its own scale shape (map-only gates, hash dedup, banded "
    "LSH, pure-hash split) — composition adds no new shuffle class.",
    oracle=_e2e_oracle(),
)
def pipeline_pretraining_end_to_end(spark, sf_dir):
    from pyspark.sql import Window

    from cascade_spark.operators._util import avg_round, dec, widen
    from cascade_spark.operators.dedup import N_HASHES, _lsh_pairs

    d = widen(t(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    fp = d.select(
        "doc_id", "text", "source", F.md5(F.lower(F.trim("text"))).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = fp.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    quality = deduped.filter(
        (F.length(F.regexp_replace("text", "[^a-z]", "")) * 10 >= F.length("text") * 7)
        & (F.size(words) >= 10)
    )
    near_d2 = (
        _lsh_pairs(spark, sf_dir)
        .filter(F.col("matches") * 2 >= N_HASHES)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    survivors = quality.join(near_d2, "doc_id", "left_anti")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split")
    )
    return (
        survivors.select(split, "source", F.size(words).alias("n_tokens"))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            avg_round(F.sum(dec("n_tokens")), F.count(F.lit(1)), 2).alias("avg_tokens"),
        )
        .orderBy("split", "source")
    )


@register(
    "pipeline_length_grouped_batching",
    "analytics",
    doc="Length-grouped batching audit — the padding-efficiency trick "
    "behind every LLM training/serving batcher: documents bucketed by "
    "token-length band, padding waste per bucket = max_len*count - "
    "sum_len (every sequence pads to its bucket max), compared with "
    "the global max-padding a single bucket would cost. All exact "
    "integer tokens; one aggregate per bucket plus a tiny global "
    "aggregate — the audit that justifies the bucket boundaries "
    "before a 100 TB tokenization run.",
    oracle="""
WITH lens AS (
    SELECT CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS BIGINT) AS n_tok
    FROM documents
), banded AS (
    SELECT n_tok,
           CAST(CASE WHEN n_tok < 30 THEN 0 WHEN n_tok < 60 THEN 1
                     WHEN n_tok < 90 THEN 2 ELSE 3 END AS BIGINT) AS bucket
    FROM lens
), per_bucket AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tok) AS BIGINT) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS sum_len
    FROM banded GROUP BY bucket
), gm AS (
    SELECT MAX(n_tok) AS gmax FROM lens
)
SELECT bucket, n_docs, max_len,
       CAST(max_len * n_docs - sum_len AS BIGINT) AS pad_waste_tokens,
       CAST(gmax * n_docs - sum_len AS BIGINT) AS unbucketed_waste_tokens
FROM per_bucket, gm
ORDER BY bucket
""",
)
def pipeline_length_grouped_batching(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    lens = docs.select(n_tok.alias("n_tok"))
    bucket = (
        F.when(F.col("n_tok") < 30, 0)
        .when(F.col("n_tok") < 60, 1)
        .when(F.col("n_tok") < 90, 2)
        .otherwise(3)
        .cast("long")
    )
    per_bucket = (
        lens.select("n_tok", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("n_tok").cast("long").alias("max_len"),
            F.sum("n_tok").cast("long").alias("sum_len"),
        )
    )
    glob = lens.agg(F.max("n_tok").cast("long").alias("gmax"))
    return (
        per_bucket.crossJoin(F.broadcast(glob))
        .select(
            "bucket",
            "n_docs",
            "max_len",
            (F.col("max_len") * F.col("n_docs") - F.col("sum_len"))
            .cast("long")
            .alias("pad_waste_tokens"),
            (F.col("gmax") * F.col("n_docs") - F.col("sum_len"))
            .cast("long")
            .alias("unbucketed_waste_tokens"),
        )
        .orderBy("bucket")
    )


MANIFEST_SHARDS = 8


@register(
    "pipeline_dataset_manifest",
    "pipeline",
    doc="Dataset integrity manifest: docs hash (md5) into "
    f"{MANIFEST_SHARDS} output shards; per shard the manifest records "
    "row count, total bytes, and an ORDER-INDEPENDENT content checksum "
    "(BIT_XOR of per-row md5-derived 56-bit signatures — commutative, "
    "mergeable across partials, and overflow-free at ANY row count, "
    "where a SUM of 56-bit values exceeds int64 past ~256 rows — the "
    "sf0.1 oracle gate caught exactly that). The verify-after-copy / "
    "publish-manifest step of a corpus release; one map-side-"
    "combinable aggregate, no shuffle beyond the shard key.",
    oracle=f"""
WITH rows_ AS (
    SELECT ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {MANIFEST_SHARDS} AS shard,
           OCTET_LENGTH(ENCODE(text)) AS n_bytes,
           ('0x' || SUBSTR(MD5(text), 1, 14))::BIGINT AS row_sig
    FROM documents
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(BIT_XOR(row_sig) AS BIGINT) AS content_checksum
FROM rows_ GROUP BY shard ORDER BY shard
""",
)
def pipeline_dataset_manifest(spark, sf_dir):
    from cascade_spark.operators._util import bigint

    d = t(spark, sf_dir, "documents")
    shard = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % MANIFEST_SHARDS
    # 56-bit per-row signature, combined with XOR (never overflows)
    sig = F.conv(F.substring(F.md5("text"), 1, 14), 16, 10).cast("long")
    return (
        d.select(
            shard.alias("shard"),
            F.length(F.col("text").cast("binary")).alias("n_bytes"),
            sig.alias("row_sig"),
        )
        .groupBy("shard")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_rows"),
            bigint(F.sum("n_bytes")).alias("total_bytes"),
            bigint(F.bit_xor("row_sig")).alias("content_checksum"),
        )
        .orderBy("shard")
    )


SHARD_CHARS = 20_000  # target shard size (chars as the byte proxy)


@register(
    "pipeline_shard_assignment",
    "analytics",
    doc="Deterministic size-balanced release sharding — the step that "
    "turns a curated corpus into uniform output shards for a dataset "
    "release: docs take a reproducible md5 shuffle order, an EXCLUSIVE "
    f"running total of n_chars (two-phase prefix sum, no single-task "
    f"global window) assigns shard_id = floor(prefix/{SHARD_CHARS}), so "
    "every shard lands within one document of the target size "
    "regardless of partitioning. Output: per-shard doc count + exact "
    "char payload. At 100 TB this is one range shuffle + one tiny "
    "per-partition base aggregate.",
    oracle=f"""
WITH h AS (
    SELECT doc_id, n_chars, MD5(CAST(doc_id AS VARCHAR)) AS hk
    FROM documents
),
c AS (
    SELECT doc_id, n_chars,
           COALESCE(SUM(n_chars) OVER (ORDER BY hk, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ps
    FROM h
)
SELECT CAST(ps // {SHARD_CHARS} AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM c GROUP BY 1 ORDER BY shard_id
""",
)
def pipeline_shard_assignment(spark, sf_dir):
    from cascade_spark.operators.ingest import assign_prefix_sum

    h = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
    )
    c = assign_prefix_sum(h, ["hk", "doc_id"], "n_chars")
    return (
        c.groupBy(
            F.expr(f"prefix_sum DIV {SHARD_CHARS}").cast("long").alias("shard_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("shard_id")
    )


EPOCHS = 3
EPOCH_HEAD = 15  # rows shown per epoch (the reproducibility probe)


@register(
    "pipeline_epoch_shuffle",
    "analytics",
    doc="Deterministic per-epoch training order: each epoch e reorders "
    "the corpus by md5(doc_id:e), so every epoch sees a different but "
    "exactly reproducible shuffle (the data-loader contract for "
    f"multi-epoch training). Emits the first {EPOCH_HEAD} docs of each "
    f"of {EPOCHS} epochs with their ordinals. Scale shape: local "
    "per-partition top-k first, then the global rank runs over at most "
    "partitions x k survivors — never a single-task full-corpus sort "
    "per epoch.",
    oracle=f"""
WITH e AS (SELECT UNNEST(GENERATE_SERIES(0, {EPOCHS - 1})) AS epoch),
h AS (
    SELECT epoch, doc_id,
           MD5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS hk
    FROM documents CROSS JOIN e
),
r AS (
    SELECT epoch, doc_id, hk,
           ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY hk, doc_id) AS ordinal
    FROM h
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(ordinal AS BIGINT) AS ordinal,
       doc_id
FROM r WHERE ordinal <= {EPOCH_HEAD}
ORDER BY epoch, ordinal
""",
)
def pipeline_epoch_shuffle(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(EPOCHS).select(F.col("id").cast("long").alias("epoch"))
    h = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("epoch").cast("string")
            )
        ).alias("hk"),
    )
    # phase 1: per-(epoch, input-partition) local head — parallel
    local_w = Window.partitionBy("epoch", F.spark_partition_id()).orderBy(
        "hk", "doc_id"
    )
    survivors = h.withColumn("_rn", F.row_number().over(local_w)).filter(
        F.col("_rn") <= EPOCH_HEAD
    )
    # phase 2: global rank over <= partitions*k survivors per epoch
    global_w = Window.partitionBy("epoch").orderBy("hk", "doc_id")
    return (
        survivors.withColumn("ordinal", F.row_number().over(global_w).cast("long"))
        .filter(F.col("ordinal") <= EPOCH_HEAD)
        .select("epoch", "ordinal", "doc_id")
        .orderBy("epoch", "ordinal")
    )


@register(
    "pipeline_dataset_card",
    "analytics",
    doc="Dataset release card — the one-frame summary a corpus ships "
    "with: volume (docs/chars/whitespace tokens), provenance breadth "
    "(sources, languages), hygiene (exact-duplicate docs, benchmark-"
    "contaminated docs at the >=20% 3-gram-overlap rule), and the "
    "deterministic split sizes. Every number is an exact integer from "
    "one of the established single-pass aggregates; the whole card is "
    "a union of scalar frames (metric, n) like dedup_corpus_report. "
    "At 100 TB: two corpus passes total (one plain projection pass, "
    "one shingle pass for contamination), everything else is "
    "aggregate-sized.",
    oracle=f"""
WITH base AS (
    SELECT doc_id, text, source, lang, n_chars,
           MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp,
           ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens
    FROM documents
),
sh AS ({{shingles}}),
bench AS (
    SELECT doc_id FROM documents
    WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % {{bench_mod}} = 0
),
bn AS (SELECT DISTINCT s FROM sh WHERE doc_id IN (SELECT doc_id FROM bench)),
contam AS (
    SELECT sh.doc_id
    FROM sh LEFT JOIN bn ON sh.s = bn.s
    WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
    GROUP BY sh.doc_id
    HAVING COUNT(bn.s) * 5 >= COUNT(*)
)
SELECT metric, CAST(n AS BIGINT) AS n FROM (
    SELECT 'docs_total' AS metric, (SELECT COUNT(*) FROM base) AS n
    UNION ALL SELECT 'chars_total', (SELECT SUM(n_chars) FROM base)
    UNION ALL SELECT 'ws_tokens_total', (SELECT SUM(n_tokens) FROM base)
    UNION ALL SELECT 'sources', (SELECT COUNT(DISTINCT source) FROM base)
    UNION ALL SELECT 'languages', (SELECT COUNT(DISTINCT lang) FROM base)
    UNION ALL SELECT 'exact_dup_docs',
        (SELECT COUNT(*) - COUNT(DISTINCT fp) FROM base)
    UNION ALL SELECT 'contaminated_docs', (SELECT COUNT(*) FROM contam)
    UNION ALL SELECT 'split_train',
        (SELECT COUNT(*) FROM base WHERE bucket < 80)
    UNION ALL SELECT 'split_val',
        (SELECT COUNT(*) FROM base WHERE bucket >= 80 AND bucket < 90)
    UNION ALL SELECT 'split_test',
        (SELECT COUNT(*) FROM base WHERE bucket >= 90)
)
ORDER BY metric
""".format(shingles=_SQL_SHINGLES, bench_mod=BENCH_MOD),
)
def pipeline_dataset_card(spark, sf_dir):
    from cascade_spark.operators.decontam import BENCH_MOD, _bench_flag
    from cascade_spark.operators.dedup import _shingles

    d = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    base = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("fp"),
        bucket.alias("bucket"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    core = base.agg(
        F.count(F.lit(1)).alias("docs_total"),
        F.sum("n_chars").alias("chars_total"),
        F.sum("n_tokens").alias("ws_tokens_total"),
        F.countDistinct("source").alias("sources"),
        F.countDistinct("lang").alias("languages"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("exact_dup_docs"),
        F.sum(F.when(F.col("bucket") < 80, 1).otherwise(0)).alias("split_train"),
        F.sum(
            F.when((F.col("bucket") >= 80) & (F.col("bucket") < 90), 1).otherwise(0)
        ).alias("split_val"),
        F.sum(F.when(F.col("bucket") >= 90, 1).otherwise(0)).alias("split_test"),
    )
    sh = _shingles(d)
    bench_ids = d.filter(_bench_flag()).select("doc_id")
    bn = (
        sh.join(bench_ids, "doc_id", "left_semi").select("s").distinct()
        .withColumn("_hit", F.lit(1))
    )
    contam = (
        sh.join(bench_ids, "doc_id", "left_anti")
        .join(F.broadcast(bn), "s", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"), F.count("_hit").alias("n_shared"))
        .filter(F.col("n_shared") * 5 >= F.col("n_sh"))
        .agg(F.count(F.lit(1)).alias("contaminated_docs"))
    )
    row = core.crossJoin(F.broadcast(contam)).collect()[0]
    metrics = [
        "chars_total", "contaminated_docs", "docs_total", "exact_dup_docs",
        "languages", "sources", "split_test", "split_train", "split_val",
        "ws_tokens_total",
    ]
    return spark.createDataFrame(
        [(m, int(row[m]) if row[m] is not None else None) for m in metrics],
        "metric string, n long",
    ).orderBy("metric")


_FUNNEL_STAGES = [
    (0, "raw"),
    (1, "exact_dedup"),
    (2, "quality"),
    (3, "neardup"),
    (4, "decontam"),
]


def _funnel_oracle() -> str:
    from cascade_spark.operators.decontam import BENCH_MOD
    from cascade_spark.operators.dedup import N_HASHES, _SQL_PAIR_CTES, _SQL_SHINGLES

    return f"""
WITH {_SQL_PAIR_CTES},
neardup AS (SELECT DISTINCT d2 AS doc_id FROM sim WHERE matches * 2 >= {N_HASHES}),
shi AS ({_SQL_SHINGLES}),
bench AS (
    SELECT doc_id FROM documents
    WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {BENCH_MOD} = 0
),
bn AS (SELECT DISTINCT s FROM shi WHERE doc_id IN (SELECT doc_id FROM bench)),
cstats AS (
    SELECT shi.doc_id, COUNT(*) AS n_sh, COUNT(bn.s) AS n_shared
    FROM shi LEFT JOIN bn ON shi.s = bn.s
    WHERE shi.doc_id NOT IN (SELECT doc_id FROM bench)
    GROUP BY shi.doc_id
),
contaminated AS (SELECT doc_id FROM cstats WHERE n_shared * 5 >= n_sh),
base AS (
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) * 10 >= LENGTH(text) * 7
             AND LEN(STRING_SPLIT(text, ' ')) >= 10 AS q,
           doc_id IN (SELECT doc_id FROM bench) AS is_bench,
           ROW_NUMBER() OVER (PARTITION BY MD5(LOWER(TRIM(text)))
                              ORDER BY doc_id) AS rn
    FROM documents
),
flags AS (
    SELECT n_tokens,
           rn = 1 AS p1,
           rn = 1 AND q AS p2,
           rn = 1 AND q AND doc_id NOT IN (SELECT doc_id FROM neardup) AS p3,
           rn = 1 AND q AND doc_id NOT IN (SELECT doc_id FROM neardup)
             AND NOT is_bench
             AND doc_id NOT IN (SELECT doc_id FROM contaminated) AS p4
    FROM base
),
a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n0,
           CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t0,
           CAST(COALESCE(SUM(CASE WHEN p1 THEN 1 END), 0) AS BIGINT) AS n1,
           CAST(COALESCE(SUM(CASE WHEN p1 THEN n_tokens END), 0) AS BIGINT) AS t1,
           CAST(COALESCE(SUM(CASE WHEN p2 THEN 1 END), 0) AS BIGINT) AS n2,
           CAST(COALESCE(SUM(CASE WHEN p2 THEN n_tokens END), 0) AS BIGINT) AS t2,
           CAST(COALESCE(SUM(CASE WHEN p3 THEN 1 END), 0) AS BIGINT) AS n3,
           CAST(COALESCE(SUM(CASE WHEN p3 THEN n_tokens END), 0) AS BIGINT) AS t3,
           CAST(COALESCE(SUM(CASE WHEN p4 THEN 1 END), 0) AS BIGINT) AS n4,
           CAST(COALESCE(SUM(CASE WHEN p4 THEN n_tokens END), 0) AS BIGINT) AS t4
    FROM flags
)
SELECT CAST(s.i AS BIGINT) AS stage_idx, s.nm AS stage,
       CASE s.i WHEN 0 THEN a.n0 WHEN 1 THEN a.n1 WHEN 2 THEN a.n2
                WHEN 3 THEN a.n3 ELSE a.n4 END AS n_docs,
       CASE s.i WHEN 0 THEN a.t0 WHEN 1 THEN a.t1 WHEN 2 THEN a.t2
                WHEN 3 THEN a.t3 ELSE a.t4 END AS total_tokens,
       CAST(COALESCE((10000 * CASE s.i WHEN 0 THEN a.t0 WHEN 1 THEN a.t1
                                      WHEN 2 THEN a.t2 WHEN 3 THEN a.t3
                                      ELSE a.t4 END)
                     // NULLIF(a.t0, 0), 0) AS BIGINT) AS retained_bp,
       CASE s.i WHEN 0 THEN 0 WHEN 1 THEN a.n0 - a.n1 WHEN 2 THEN a.n1 - a.n2
                WHEN 3 THEN a.n2 - a.n3 ELSE a.n3 - a.n4 END AS dropped_docs
FROM (VALUES (0, 'raw'), (1, 'exact_dedup'), (2, 'quality'),
             (3, 'neardup'), (4, 'decontam')) s(i, nm), a
ORDER BY stage_idx
"""


@register(
    "pipeline_stage_funnel",
    "pipeline",
    doc="Corpus-curation funnel dashboard: docs and tokens surviving each "
    "sequential stage — raw -> exact-dedup keep-first -> quality gate "
    "(alpha ratio >= 0.7, >= 10 words) -> MinHash near-dup drop (shared "
    "persisted LSH pair frame, keep-earliest) -> decontamination (the "
    "benchmark slice itself plus every >=20%%-shingle-overlap doc). One "
    "pass computes every per-doc survival flag, ONE aggregate row "
    "carries all stage sums, and the 5-row presentation is a constant-"
    "size unpivot — so the funnel costs one extra aggregate over the "
    "pipeline it audits, never five corpus scans. Token retention in "
    "exact floor basis points vs raw; dropped_docs is per-stage.",
    oracle=_funnel_oracle(),
)
def pipeline_stage_funnel(spark, sf_dir):
    from pyspark.sql import Window

    from cascade_spark.operators._util import _intdiv, widen
    from cascade_spark.operators.decontam import _bench_flag
    from cascade_spark.operators.dedup import N_HASHES, _lsh_pairs, _shingles

    d = widen(t(spark, sf_dir, "documents"))
    neardup = (
        _lsh_pairs(spark, sf_dir)
        .filter(F.col("matches") * 2 >= N_HASHES)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("_nd", F.lit(1))
    )
    bench_ngrams = (
        _shingles(d.filter(_bench_flag())).select("s").distinct()
        .withColumn("_hit", F.lit(1))
    )
    contaminated = (
        _shingles(d.filter(~_bench_flag()))
        .join(F.broadcast(bench_ngrams), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("_hit").alias("n_shared"),
        )
        .filter(F.col("n_shared") * 5 >= F.col("n_sh"))
        .select("doc_id")
        .withColumn("_ct", F.lit(1))
    )
    q = (
        F.length(F.regexp_replace("text", "[^a-z]", "")) * 10
        >= F.length("text") * 7
    ) & (F.size(F.split("text", " ")) >= 10)
    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    base = (
        d.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            q.alias("q"),
            _bench_flag().alias("is_bench"),
            F.row_number().over(w).alias("rn"),
        )
        .join(neardup, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
    )
    p1 = F.col("rn") == 1
    p2 = p1 & F.col("q")
    p3 = p2 & F.col("_nd").isNull()
    p4 = p3 & ~F.col("is_bench") & F.col("_ct").isNull()
    cnt = lambda p: F.coalesce(F.sum(F.when(p, 1)), F.lit(0)).cast("long")  # noqa: E731
    tok = lambda p: F.coalesce(F.sum(F.when(p, F.col("n_tokens"))), F.lit(0)).cast("long")  # noqa: E731
    a = base.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("t0"),
        cnt(p1).alias("n1"), tok(p1).alias("t1"),
        cnt(p2).alias("n2"), tok(p2).alias("t2"),
        cnt(p3).alias("n3"), tok(p3).alias("t3"),
        cnt(p4).alias("n4"), tok(p4).alias("t4"),
    )
    stages = spark.createDataFrame(_FUNNEL_STAGES, "stage_idx long, stage string")
    pick = lambda pfx: F.when(F.col("stage_idx") == 0, F.col(f"{pfx}0")).when(  # noqa: E731
        F.col("stage_idx") == 1, F.col(f"{pfx}1")
    ).when(F.col("stage_idx") == 2, F.col(f"{pfx}2")).when(
        F.col("stage_idx") == 3, F.col(f"{pfx}3")
    ).otherwise(F.col(f"{pfx}4"))
    prev_n = F.when(F.col("stage_idx") == 0, F.col("n0")).when(
        F.col("stage_idx") == 1, F.col("n0")
    ).when(F.col("stage_idx") == 2, F.col("n1")).when(
        F.col("stage_idx") == 3, F.col("n2")
    ).otherwise(F.col("n3"))
    return (
        stages.crossJoin(F.broadcast(a))
        .select(
            "stage_idx",
            "stage",
            pick("n").alias("n_docs"),
            pick("t").alias("total_tokens"),
            F.when(F.col("t0") > 0, _intdiv(F.lit(10000) * pick("t"), F.col("t0")))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("retained_bp"),
            (prev_n - pick("n")).cast("long").alias("dropped_docs"),
        )
        .orderBy("stage_idx")
    )


@register(
    "pipeline_dataset_diff",
    "pipeline",
    doc="Release-to-release dataset diff — the audit run before "
    "shipping corpus v2: which documents were added, removed, changed, "
    "or untouched, per source. The two 'releases' are deterministic "
    "views of the fixture (v1 = doc_id % 10 != 0 with original text; "
    "v2 = doc_id % 7 != 0 with text revised when doc_id % 5 == 0), "
    "compared by md5 content fingerprint through ONE full-outer join "
    "on doc_id — at 100 TB both sides are manifest tables (id + "
    "fingerprint), so the join moves fixed-width rows, never text; "
    "classification is a map-side CASE and the per-source rollup is "
    "combinable.",
    oracle="""
WITH v1 AS (
    SELECT doc_id, source, MD5(text) AS fp
    FROM documents WHERE doc_id % 10 <> 0
),
v2 AS (
    SELECT doc_id, source,
           MD5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
                    ELSE text END) AS fp
    FROM documents WHERE doc_id % 7 <> 0
),
d AS (
    SELECT COALESCE(v1.source, v2.source) AS source,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.fp <> v2.fp THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n
FROM d GROUP BY 1, 2
ORDER BY source, status
""",
)
def pipeline_dataset_diff(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    v2 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("b.fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("source", "status")
    )


N_EPOCHS = 3


@register(
    "pipeline_epoch_shuffle_audit",
    "pipeline",
    doc="Deterministic epoch reshuffle — every training epoch orders "
    "the corpus by md5(epoch || ':' || doc_id), so the permutation "
    "is reproducible from (seed=epoch, doc_id) alone: any worker can "
    "compute any epoch's order with no stored shuffle state, the "
    "property a 100 TB data loader needs for resumable epochs. "
    "Per-epoch ranks come from the two-phase range-partition prefix "
    "sum (never a single-task global window); the audit emits each "
    "epoch's permutation checksum (BIT_XOR over rank-salted ids) and "
    "the mean absolute rank displacement to the next epoch — "
    "near-N/3 displacement is what 'well shuffled' looks like; a "
    "broken reshuffle (epoch-invariant order) would show 0.",
    oracle=f"""
WITH docs AS (SELECT doc_id FROM documents),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM docs),
frame AS (
    SELECT e.e, d.doc_id,
           MD5(CAST(e.e AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS key
    FROM docs d CROSS JOIN
         (SELECT UNNEST(GENERATE_SERIES(1, {N_EPOCHS})) AS e) e
),
ranked AS (
    SELECT e, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY e ORDER BY key) AS BIGINT) AS r
    FROM frame
),
pos AS (
    SELECT doc_id,
           MAX(CASE WHEN e = 1 THEN r END) AS r1,
           MAX(CASE WHEN e = 2 THEN r END) AS r2,
           MAX(CASE WHEN e = 3 THEN r END) AS r3
    FROM ranked GROUP BY doc_id
),
chk AS (
    SELECT e, BIT_XOR(r * 2654435761 + doc_id) AS perm_checksum
    FROM ranked GROUP BY e
),
disp AS (
    SELECT 1 AS e, CAST(SUM(ABS(r1 - r2)) AS BIGINT) AS sum_disp FROM pos
    UNION ALL
    SELECT 2 AS e, CAST(SUM(ABS(r2 - r3)) AS BIGINT) FROM pos
    UNION ALL
    SELECT 3 AS e, CAST(NULL AS BIGINT)
)
SELECT CAST(chk.e AS BIGINT) AS epoch,
       CAST(chk.perm_checksum AS BIGINT) AS perm_checksum,
       disp.sum_disp AS sum_disp_to_next,
       CAST(disp.sum_disp // n.total AS BIGINT) AS mean_disp_to_next
FROM chk JOIN disp ON disp.e = chk.e CROSS JOIN n
ORDER BY epoch
""",
)
def pipeline_epoch_shuffle_audit(spark, sf_dir):
    from cascade_spark.operators.ingest import assign_prefix_sum

    d = t(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(1, N_EPOCHS + 1).select(F.col("id").alias("e"))
    frame = d.crossJoin(F.broadcast(epochs)).select(
        "e",
        "doc_id",
        F.md5(
            F.concat_ws(":", F.col("e").cast("string"), F.col("doc_id").cast("string"))
        ).alias("key"),
        F.lit(1).alias("one"),
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("total"))
    ranked = assign_prefix_sum(frame, ["e", "key"], "one").crossJoin(
        F.broadcast(n)
    ).select(
        "e",
        "doc_id",
        (F.col("prefix_sum") + 1 - (F.col("e") - 1) * F.col("total"))
        .cast("long")
        .alias("r"),
    )
    pos = ranked.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("e") == k, F.col("r"))).alias(f"r{k}")
            for k in range(1, N_EPOCHS + 1)
        ]
    )
    chk = ranked.groupBy("e").agg(
        F.expr("bit_xor(r * 2654435761 + doc_id)").alias("perm_checksum")
    )
    disp = (
        pos.agg(
            F.sum(F.abs(F.col("r1") - F.col("r2"))).cast("long").alias("d1"),
            F.sum(F.abs(F.col("r2") - F.col("r3"))).cast("long").alias("d2"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("e"), F.col("d1").alias("sum_disp")),
                    F.struct(F.lit(2).alias("e"), F.col("d2").alias("sum_disp")),
                    F.struct(
                        F.lit(3).alias("e"),
                        F.lit(None).cast("long").alias("sum_disp"),
                    ),
                )
            ).alias("s")
        )
        .select(F.col("s.e").alias("e"), F.col("s.sum_disp").alias("sum_disp"))
    )
    return (
        chk.join(disp, "e")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("e").cast("long").alias("epoch"),
            F.col("perm_checksum").cast("long").alias("perm_checksum"),
            F.col("sum_disp").alias("sum_disp_to_next"),
            F.expr("sum_disp DIV total").cast("long").alias("mean_disp_to_next"),
        )
        .orderBy("epoch")
    )


N_SHARDS = 8


@register(
    "pipeline_shard_rendezvous",
    "pipeline",
    doc="Rendezvous (highest-random-weight) shard assignment: every "
    f"doc scores all {N_SHARDS} shards with md5(doc_id:shard) and "
    "lands on the argmax (max_by / arg_max in both engines; md5 "
    "collisions make ties impossible in practice). The audit removes "
    "shard 7 and reassigns: the HRW property — ONLY the removed "
    "shard's docs move, everyone else's argmax over the survivors is "
    "unchanged — is verified as data (n_docs_7shards = n_docs_8shards "
    "+ inbound from the dead shard, per survivor). This is the "
    "consistent-placement scheme a 100 TB doc store needs: mod-N "
    "hashing moves (N-1)/N of ALL docs on resize, rendezvous moves "
    "exactly 1/N. Map-only scoring (an 8-element array per row), one "
    "tiny per-shard aggregate.",
    oracle=f"""
WITH scored AS (
    SELECT d.doc_id, s.s,
           ('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR) || ':' ||
                               CAST(s.s AS VARCHAR)), 1, 15))::BIGINT AS score
    FROM documents d,
         (SELECT UNNEST(GENERATE_SERIES(0, {N_SHARDS - 1})) AS s) s
),
a8 AS (SELECT doc_id, ARG_MAX(s, score) AS shard8 FROM scored GROUP BY doc_id),
a7 AS (SELECT doc_id, ARG_MAX(s, score) AS shard7
       FROM scored WHERE s < {N_SHARDS - 1} GROUP BY doc_id),
j AS (SELECT a8.doc_id, a8.shard8, a7.shard7
      FROM a8 JOIN a7 ON a7.doc_id = a8.doc_id)
SELECT CAST(sh.s AS BIGINT) AS shard,
       CAST(COUNT(*) FILTER (WHERE j.shard8 = sh.s) AS BIGINT) AS n_docs_8shards,
       CAST(COUNT(*) FILTER (WHERE j.shard7 = sh.s) AS BIGINT) AS n_docs_7shards,
       CAST(COUNT(*) FILTER (WHERE j.shard7 = sh.s AND j.shard8 = {N_SHARDS - 1})
            AS BIGINT) AS n_inbound
FROM j, (SELECT UNNEST(GENERATE_SERIES(0, {N_SHARDS - 1})) AS s) sh
GROUP BY sh.s
ORDER BY shard
""",
)
def pipeline_shard_rendezvous(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id")
    shard_scores = F.array(
        *[
            F.struct(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(str(s)))),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("score"),
                F.lit(s).alias("s"),
            )
            for s in range(N_SHARDS)
        ]
    )
    assigned = d.withColumn("_ss", shard_scores).select(
        "doc_id",
        F.array_max("_ss")["s"].alias("shard8"),
        F.array_max(
            F.filter("_ss", lambda x: x["s"] < N_SHARDS - 1)
        )["s"].alias("shard7"),
    )
    shards = spark.range(N_SHARDS).select(F.col("id").alias("shard"))
    return (
        assigned.crossJoin(F.broadcast(shards))
        .groupBy("shard")
        .agg(
            F.count_if(F.col("shard8") == F.col("shard"))
            .cast("long")
            .alias("n_docs_8shards"),
            F.count_if(F.col("shard7") == F.col("shard"))
            .cast("long")
            .alias("n_docs_7shards"),
            F.count_if(
                (F.col("shard7") == F.col("shard"))
                & (F.col("shard8") == N_SHARDS - 1)
            )
            .cast("long")
            .alias("n_inbound"),
        )
        .orderBy("shard")
    )


@register(
    "pipeline_preference_pairs",
    "pipeline",
    doc="DPO/RLHF preference-pair construction: within each (lang, "
    "source) prompt group, the highest-scoring doc becomes CHOSEN and "
    "the lowest REJECTED (score = exact integer length-penalized "
    "stopword signal: 100*n_stopword_hits - n_chars — any integer "
    "quality proxy slots in), ties broken by doc_id so the pair set is "
    "total-order deterministic. One aggregate with max_by/min_by — no "
    "self-join, no window over the corpus; groups with <2 docs are "
    "dropped (no self-pairs). The gap column is the preference margin "
    "a DPO trainer would weight by.",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang, source,
           100 * {_sql_hits('en')} + 100 * {_sql_hits('de')}
         + 100 * {_sql_hits('fr')} + 100 * {_sql_hits('es')}
         - LEN(text) AS score
    FROM documents
),
g AS (
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ARG_MAX(doc_id, score * 10000000 - doc_id) AS chosen_doc,
           CAST(MAX(score) AS BIGINT) AS chosen_score,
           ARG_MIN(doc_id, score * 10000000 + doc_id) AS rejected_doc,
           CAST(MIN(score) AS BIGINT) AS rejected_score
    FROM scored GROUP BY lang, source
)
SELECT lang, source, n_docs,
       CAST(chosen_doc AS BIGINT) AS chosen_doc,
       chosen_score,
       CAST(rejected_doc AS BIGINT) AS rejected_doc,
       rejected_score,
       chosen_score - rejected_score AS margin
FROM g WHERE n_docs >= 2
ORDER BY lang, source
""",
)
def pipeline_preference_pairs(spark, sf_dir):
    from cascade_spark.operators.text import LANG_MARKERS as _LM

    d = widen(t(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")

    def hits(lang):
        arr = F.array([F.lit(w) for w in _LM[lang]])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    score = (
        F.lit(100) * (hits("en") + hits("de") + hits("fr") + hits("es"))
        - F.length("text")
    ).cast("long")
    s = d.select("doc_id", "lang", "source", score.alias("score"))
    # composite integer keys (DuckDB arg_max/min take scalar keys):
    # maximize score with smaller-doc_id tiebreak -> key score*C - doc_id;
    # minimize score with smaller-doc_id tiebreak -> key score*C + doc_id
    c = F.lit(10_000_000)
    g = s.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max_by("doc_id", F.col("score") * c - F.col("doc_id"))
        .cast("long")
        .alias("chosen_doc"),
        F.max("score").cast("long").alias("chosen_score"),
        F.min_by("doc_id", F.col("score") * c + F.col("doc_id"))
        .cast("long")
        .alias("rejected_doc"),
        F.min("score").cast("long").alias("rejected_score"),
    )
    return (
        g.filter(F.col("n_docs") >= 2)
        .select(
            "lang", "source", "n_docs", "chosen_doc", "chosen_score",
            "rejected_doc", "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
        .orderBy("lang", "source")
    )


MASK_MOD = 5  # ~20% of word positions masked


@register(
    "pipeline_span_corruption",
    "pipeline",
    doc="T5-style span-corruption prep: word position i of doc d is "
    f"masked iff md5(d:i) %% {MASK_MOD} == 0 (the deterministic-hash "
    "convention replacing RNG — reproducible across epochs and "
    "engines), corrupted text replaces masked words with <X>, targets "
    "collect the masked words in order. All string surgery is JVM "
    "higher-order functions (transform-with-index + array_compact + "
    "array_join) — no Python, no explode-reassemble shuffle; the "
    "oracle rebuilds both strings with ordered STRING_AGG. Output "
    "pins exact mask counts, ratio bp, and both strings' prefixes.",
    oracle=f"""
WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
tok AS (
    SELECT doc_id, i, ws[i] AS w,
           CASE WHEN ('0x' || SUBSTR(MD5(doc_id || ':' || i), 1, 8))::BIGINT
                     % {MASK_MOD} = 0 THEN 1 ELSE 0 END AS m
    FROM w, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ws))) AS i)
),
agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(m) AS BIGINT) AS n_masked,
           STRING_AGG(CASE WHEN m = 1 THEN '<X>' ELSE w END, ' ' ORDER BY i)
               AS corrupted,
           STRING_AGG(CASE WHEN m = 1 THEN w END, ' ' ORDER BY i) AS targets
    FROM tok GROUP BY doc_id
)
SELECT doc_id, n_words, n_masked,
       CAST(10000 * n_masked // n_words AS BIGINT) AS mask_ratio_bp,
       SUBSTR(corrupted, 1, 64) AS corrupted_prefix,
       COALESCE(SUBSTR(targets, 1, 64), '') AS targets_prefix
FROM agg ORDER BY doc_id
""",
)
def pipeline_span_corruption(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    d = widen(t(spark, sf_dir, "documents"))
    ws = F.split("text", " ")

    def masked(i):  # i is the 0-based lambda index; md5 key is 1-based
        key = F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), (i + 1).cast("string")
        )
        return (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % MASK_MOD
            == 0
        )

    corrupted_arr = F.transform(
        ws, lambda w, i: F.when(masked(i), F.lit("<X>")).otherwise(w)
    )
    target_arr = F.array_compact(
        F.transform(ws, lambda w, i: F.when(masked(i), w))
    )
    out = d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.size(target_arr).cast("long").alias("n_masked"),
        F.array_join(corrupted_arr, " ").alias("corrupted"),
        F.array_join(target_arr, " ").alias("targets"),
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_masked",
        _intdiv(F.lit(10000) * F.col("n_masked"), F.col("n_words")).alias(
            "mask_ratio_bp"
        ),
        F.substring("corrupted", 1, 64).alias("corrupted_prefix"),
        F.coalesce(F.substring("targets", 1, 64), F.lit("")).alias(
            "targets_prefix"
        ),
    ).orderBy("doc_id")


BFD_CAP = 512  # tokens per context window
BFD_SHARDS = 8


@register(
    "pipeline_bestfit_packing",
    "analytics",
    doc="Best-fit-decreasing context packing (the bin-packing upgrade "
    "over pipeline_pack_context_windows' sequential cumsum split — the "
    "'fewer truncations' recipe: docs are never split, each is placed "
    "whole into the fullest bin that still fits): docs shard "
    f"deterministically (doc_id % {BFD_SHARDS}), and within a shard an "
    "applyInPandas group runs FFD — sort by (tokens DESC, doc_id), "
    "place each doc into the bin with the LEAST remaining capacity "
    "that fits, else open a new bin. Fully deterministic (no floats, "
    "fixed tie rules), so results are parallelism-invariant even "
    "though the packing itself is iterative Python — the shape Spark "
    "cannot express relationally, hence the Arrow-batched "
    "applyInPandas escape hatch (rows-only check by design; invariants "
    "pinned in tests). Per-shard packing summary out. At 100 TB "
    "shards are the parallelism unit: FFD state is O(bins-per-shard), "
    "shards stream through executors independently, and shard count "
    "scales with the cluster, not the corpus.",
    oracle=None,
)
def pipeline_bestfit_packing(spark, sf_dir):
    import pandas as pd

    toks = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("doc_id") % BFD_SHARDS).alias("shard"),
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
    )

    out_schema = (
        "shard long, n_docs long, n_bins long, total_tokens long, "
        "lower_bound long, efficiency_bp long, max_bin_tokens long, "
        "n_oversize long"
    )

    def ffd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["n_tok", "doc_id"], ascending=[False, True])
        remaining: list[int] = []  # capacity left per bin
        used: list[int] = []  # tokens per bin
        oversize = 0
        for tok in pdf["n_tok"].tolist():
            tok = int(tok)
            if tok > BFD_CAP:
                oversize += 1
                remaining.append(0)
                used.append(tok)
                continue
            best, best_rem = -1, BFD_CAP + 1
            for i, rem in enumerate(remaining):
                if tok <= rem < best_rem:
                    best, best_rem = i, rem
            if best < 0:
                remaining.append(BFD_CAP - tok)
                used.append(tok)
            else:
                remaining[best] -= tok
                used[best] += tok
        total = int(pdf["n_tok"].sum()) if len(pdf) else 0
        n_bins = len(used)
        shard = int(pdf["shard"].iloc[0]) if len(pdf) else -1
        return pd.DataFrame(
            [
                {
                    "shard": shard,
                    "n_docs": len(pdf),
                    "n_bins": n_bins,
                    "total_tokens": total,
                    "lower_bound": -(-total // BFD_CAP),
                    "efficiency_bp": (total * 10000) // (n_bins * BFD_CAP)
                    if n_bins
                    else 0,
                    "max_bin_tokens": max(used) if used else 0,
                    "n_oversize": oversize,
                }
            ]
        )

    return (
        toks.groupBy("shard")
        .applyInPandas(ffd, schema=out_schema)
        .orderBy("shard")
    )


ALLOC_BUDGET = 1000


@register(
    "pipeline_largest_remainder_alloc",
    "pipeline",
    doc=f"Largest-remainder (Hamilton) apportionment of a "
    f"{ALLOC_BUDGET}-doc sampling budget across languages in exact "
    "integer arithmetic: floor quota (B*n_i) DIV N per language, then "
    "the leftover seats go to the largest remainders ((B*n_i) % N, "
    "language tiebreak) — the standard way to turn fractional mixture "
    "weights into an integral per-source plan with no drift "
    "(allocations sum to B exactly, pinned in tests). Windows run "
    "over the |languages| rows — spans, not data.",
    oracle=f"""
WITH counts AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM counts),
quota AS (
    SELECT lang, n_docs,
           ({ALLOC_BUDGET} * n_docs) // tot.n AS q_floor,
           ({ALLOC_BUDGET} * n_docs) % tot.n AS rem
    FROM counts, tot
),
ranked AS (
    SELECT lang, n_docs, q_floor, rem,
           ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
           {ALLOC_BUDGET} - SUM(q_floor) OVER () AS deficit
    FROM quota
)
SELECT lang, n_docs, CAST(q_floor AS BIGINT) AS quota_floor,
       CAST(CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(q_floor + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
           AS alloc
FROM ranked ORDER BY lang
""",
)
def pipeline_largest_remainder_alloc(spark, sf_dir):
    from cascade_spark.operators._util import bigint

    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(bigint(F.count(F.lit(1))).alias("n_docs"))
    tot = counts.agg(bigint(F.sum("n_docs")).alias("n"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr(f"({ALLOC_BUDGET} * n_docs) DIV n").alias("q_floor"),
        F.expr(f"({ALLOC_BUDGET} * n_docs) % n").alias("rem"),
    )
    # |languages|-row windows: spans, not data
    ranked = quota.select(
        "lang",
        "n_docs",
        "q_floor",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "lang"))
        .alias("rk"),
        (
            F.lit(ALLOC_BUDGET)
            - F.sum("q_floor").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("deficit"),
    )
    return ranked.select(
        "lang",
        "n_docs",
        bigint(F.col("q_floor")).alias("quota_floor"),
        F.when(F.col("rk") <= F.col("deficit"), 1)
        .otherwise(0)
        .cast("long")
        .alias("extra"),
        (
            F.col("q_floor")
            + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    ).orderBy("lang")


@register(
    "pipeline_rejection_sampling",
    "pipeline",
    doc="Quality-proportional rejection sampling without floats: each "
    "doc's acceptance probability is its clean-char share in bp "
    "(10000 - bad_bp from the text_garbage_score screen, floored at "
    "0) and the doc is accepted iff md5(doc_id) % 10000 < accept_bp — "
    "a deterministic, reproducible importance sampler (same corpus -> "
    "same sample, no RNG state). Per source: docs, expected "
    "acceptances in bp mass, actual accepted, accepted-id checksum. "
    "One map-only pass + one combinable groupBy.",
    oracle="""
WITH scored AS (
    SELECT source, doc_id,
           GREATEST(10000 - (10000 * (LENGTH(LOWER(text))
                     - LENGTH(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 .,]',
                                             '', 'g'))))
                    // GREATEST(LENGTH(text), 1), 0) AS accept_bp,
           ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS draw
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(accept_bp) AS BIGINT) AS expected_bp_mass,
       CAST(COUNT(*) FILTER (WHERE draw < accept_bp) AS BIGINT) AS n_accepted,
       CAST(COALESCE(SUM(doc_id) FILTER (WHERE draw < accept_bp), 0)
            AS BIGINT) AS accepted_id_sum
FROM scored GROUP BY source ORDER BY source
""",
)
def pipeline_rejection_sampling(spark, sf_dir):
    from cascade_spark.operators._util import bigint

    d = t(spark, sf_dir, "documents")
    accept_bp = F.greatest(
        F.lit(10000)
        - F.expr(
            "(10000 * (char_length(lower(text))"
            " - char_length(regexp_replace(lower(text), '[^a-z0-9 .,]', ''))))"
            " DIV GREATEST(char_length(text), 1)"
        ),
        F.lit(0),
    )
    draw = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10000
    )
    scored = d.select(
        "source",
        "doc_id",
        accept_bp.alias("accept_bp"),
        draw.alias("draw"),
    )
    return (
        scored.groupBy("source")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_docs"),
            bigint(F.sum("accept_bp")).alias("expected_bp_mass"),
            bigint(
                F.sum(F.when(F.col("draw") < F.col("accept_bp"), 1).otherwise(0))
            ).alias("n_accepted"),
            bigint(
                F.coalesce(
                    F.sum(
                        F.when(F.col("draw") < F.col("accept_bp"), F.col("doc_id"))
                    ),
                    F.lit(0),
                )
            ).alias("accepted_id_sum"),
        )
        .orderBy("source")
    )


CHUNK_SIZE = 8
CHUNK_STRIDE = 4


@register(
    "pipeline_chunk_overlap_windows",
    "pipeline",
    doc=f"RAG-style sliding-window chunking (size {CHUNK_SIZE}, stride "
    f"{CHUNK_STRIDE}, 50% overlap) done entirely with JVM array HOFs: "
    "per doc, chunk k = words[k*stride, k*stride+size) until the "
    "window reaches the tail; per source — docs, chunks, chunk word "
    "mass vs base word mass (overlap cost in exact floor bp), and an "
    "md5 checksum over every chunk string proving the exact chunk "
    "contents. Map-only + one combinable groupBy; contrast with "
    "pipeline_pack_context_windows (non-overlapping packing) and "
    "pipeline_passage_dedup (fixed disjoint chunks).",
    oracle=f"""
WITH base AS (
    SELECT doc_id, source, STRING_SPLIT(text, ' ') AS words,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS w
    FROM documents
),
chunked AS (
    SELECT doc_id, source, w,
           CAST(CASE WHEN w <= {CHUNK_SIZE} THEN 1
                ELSE (w - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} + 1
                END AS BIGINT) AS n_chunks,
           words
    FROM base
),
chunks AS (
    SELECT doc_id, source, w, n_chunks,
           UNNEST(LIST_TRANSFORM(GENERATE_SERIES(0, n_chunks - 1),
               k -> ARRAY_TO_STRING(
                   words[k * {CHUNK_STRIDE} + 1 :
                         k * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' '))) AS chunk
    FROM chunked
)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(LEN(STRING_SPLIT(chunk, ' '))) AS BIGINT) AS chunk_word_mass,
       CAST(SUM(LEN(STRING_SPLIT(chunk, ' '))) - (
            SELECT SUM(b.w) FROM base b WHERE b.source = chunks.source)
            AS BIGINT) AS overlap_words,
       CAST(SUM(('0x' || SUBSTR(MD5(chunk), 1, 8))::BIGINT) AS BIGINT)
           AS chunk_checksum
FROM chunks GROUP BY source ORDER BY source
""",
)
def pipeline_chunk_overlap_windows(spark, sf_dir):
    from cascade_spark.operators._util import bigint

    d = t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.split(F.col("text"), " ").alias("words"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("w"),
    )
    n_chunks = F.expr(
        f"CAST(CASE WHEN w <= {CHUNK_SIZE} THEN 1"
        f" ELSE (w - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1) DIV {CHUNK_STRIDE} + 1"
        f" END AS BIGINT)"
    )
    chunk_arr = F.expr(
        f"transform(sequence(CAST(0 AS BIGINT), _nc - 1),"
        f" k -> array_join(slice(words, CAST(k * {CHUNK_STRIDE} + 1 AS INT),"
        f" {CHUNK_SIZE}), ' '))"
    )
    chunks = (
        base.withColumn("_nc", n_chunks)
        .withColumn("chunk", F.explode(chunk_arr))
        .select("doc_id", "source", "w", "chunk")
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            bigint(F.count(F.lit(1))).alias("n_chunks"),
            bigint(F.sum(F.size(F.split(F.col("chunk"), " ")))).alias(
                "chunk_word_mass"
            ),
            bigint(
                F.sum(
                    F.conv(F.substring(F.md5(F.col("chunk")), 1, 8), 16, 10).cast(
                        "long"
                    )
                )
            ).alias("chunk_checksum"),
        )
        .join(
            base.groupBy("source").agg(bigint(F.sum("w")).alias("_base_mass")),
            "source",
        )
        .select(
            "source",
            "n_docs",
            "n_chunks",
            "chunk_word_mass",
            (F.col("chunk_word_mass") - F.col("_base_mass")).alias("overlap_words"),
            "chunk_checksum",
        )
        .orderBy("source")
    )


KFOLD_K = 5


@register(
    "pipeline_group_kfold",
    "pipeline",
    doc=f"Group-aware {KFOLD_K}-fold cross-validation assignment: every "
    "EVENT inherits its user's fold (md5(user_id) % k), so no user's "
    "data straddles folds — the leakage-safe split a user-level model "
    "requires (doc-level pipeline_train_split can't give this "
    "guarantee). Per fold: users, events, purchase share in exact "
    "floor bp, and a user-id checksum proving the exact membership. "
    "One combinable pass; folds are reproducible with no RNG state.",
    oracle=f"""
WITH assigned AS (
    SELECT ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % {KFOLD_K} AS fold,
           user_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur
    FROM events WHERE user_id IS NOT NULL
)
SELECT fold,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST((10000 * SUM(pur)) // COUNT(*) AS BIGINT) AS purchase_bp,
       CAST(SUM(DISTINCT user_id) AS BIGINT) AS user_id_checksum
FROM assigned GROUP BY fold ORDER BY fold
""",
)
def pipeline_group_kfold(spark, sf_dir):
    from cascade_spark.operators._util import bigint

    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    fold = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % KFOLD_K
    )
    assigned = ev.select(
        fold.alias("fold"),
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pur"),
    )
    return (
        assigned.groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            bigint(F.count(F.lit(1))).alias("n_events"),
            F.expr("CAST((10000 * SUM(pur)) DIV COUNT(*) AS BIGINT)").alias(
                "purchase_bp"
            ),
            F.sum_distinct(F.col("user_id")).cast("long").alias("user_id_checksum"),
        )
        .orderBy("fold")
    )


COVER_ROUNDS = 5


def _cover_round_ctes(n_rounds: int) -> str:
    """Unrolled greedy-coverage CTE chain: g_r scores candidate docs by
    still-uncovered word count, s_r picks the (count DESC, doc_id)
    argmax — mirroring the Spark driver loop round for round."""
    parts = []
    for r in range(1, n_rounds + 1):
        if r == 1:
            g = """
g1 AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM dw GROUP BY doc_id
)"""
        else:
            prev_sel = " UNION ALL ".join(
                f"SELECT doc_id FROM s{p}" for p in range(1, r)
            )
            g = f"""
g{r} AS (
    SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM dw
    WHERE dw.w NOT IN (SELECT w FROM dw WHERE doc_id IN ({prev_sel}))
      AND dw.doc_id NOT IN ({prev_sel})
    GROUP BY dw.doc_id
)"""
        parts.append(g)
        parts.append(
            f"""
s{r} AS (SELECT doc_id, c FROM g{r} ORDER BY c DESC, doc_id LIMIT 1)"""
        )
    return ",".join(parts)


@register(
    "pipeline_greedy_coverage",
    "pipeline",
    doc=f"Greedy max-coverage data selection ({COVER_ROUNDS} rounds) — "
    "the facility-location heuristic behind coverage-driven corpus "
    "subset selection: each round picks the document covering the most "
    "still-uncovered vocabulary words (ties -> lowest doc_id), the "
    "classic 1-1/e greedy. Per round: selected doc, newly covered "
    "words, cumulative coverage. Spark runs the bounded driver loop "
    "(one 1-row argmax collect per round — the BPE-argmax precedent); "
    "the oracle unrolls the same rounds as CTE chains. Rounds after "
    "full coverage emit no row (mirrored). At corpus scale each round "
    "is one anti-join + one combinable groupBy + a tiny global top-1.",
    oracle=f"""
WITH dw AS MATERIALIZED (
    SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
    FROM documents
),{_cover_round_ctes(COVER_ROUNDS)}
SELECT rnd, doc_id, new_words,
       CAST(SUM(new_words) OVER (ORDER BY rnd
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_words
FROM (
    {" UNION ALL ".join(f"SELECT {r} AS rnd, doc_id, c AS new_words FROM s{r}" for r in range(1, COVER_ROUNDS + 1))}
)
WHERE new_words > 0
ORDER BY rnd
""",
)
def pipeline_greedy_coverage(spark, sf_dir):
    from cascade_spark.operators._util import bigint

    d = t(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .transform(barrier_eager)
    )
    covered = None  # DataFrame of covered words
    selected: list[tuple[int, int, int]] = []
    chosen_ids: list[int] = []
    for rnd in range(1, COVER_ROUNDS + 1):
        rem = dw
        if chosen_ids:
            rem = rem.filter(~F.col("doc_id").isin(chosen_ids))
        if covered is not None:
            rem = rem.join(covered, "w", "left_anti")
        top = (
            rem.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .orderBy(F.col("c").desc(), "doc_id")
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] == 0:
            break
        doc_id, c = int(top[0]["doc_id"]), int(top[0]["c"])
        selected.append((rnd, doc_id, c))
        chosen_ids.append(doc_id)
        new_cov = dw.filter(F.col("doc_id") == doc_id).select("w").distinct()
        covered = (
            new_cov if covered is None else covered.unionByName(new_cov).distinct()
        )
        covered = covered.transform(barrier_eager)
    out = spark.createDataFrame(
        selected, "rnd int, doc_id long, new_words long"
    )
    return out.select(
        "rnd",
        "doc_id",
        "new_words",
        bigint(
            F.sum("new_words").over(
                Window.orderBy("rnd").rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("cum_words"),
    ).orderBy("rnd")
