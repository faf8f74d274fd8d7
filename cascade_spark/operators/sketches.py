"""Probabilistic-sketch operators made exactly reproducible: a Bloom-
filter decontamination pass and a count-min-sketch heavy-hitter profile.

Both sketches are usually seeded-random and unverifiable; here the hash
families are md5-derived (the repo's cross-engine convention — parity of
``conv(hex,16,10)`` vs ``('0x'||hex)::BIGINT`` is pinned in tests), so
the DuckDB oracle reproduces the sketch bit-for-bit and the queries are
hash-checked, not rows-only.

Scale design (the whole point of sketches at 100 TB):
- Bloom decontamination: the benchmark n-gram index is replaced by a
  fixed-size bit-position set (``M`` = 2^16 slots regardless of
  benchmark text volume). The corpus pass is **map-only** — K broadcast
  joins against the tiny position table, no corpus-sized shuffle —
  followed by one combinable groupBy(doc_id). The exact-index join is
  kept alongside to make the false-positive overhead auditable
  (``bloom_fp`` column); in production only the bloom pass runs and
  flagged docs get the exact re-check.
- Count-min sketch: the counter table is D×W rows no matter how many
  tokens stream through — the groupBy(d, pos) is map-side combinable,
  so each executor ships at most D×W partial counters per task (the
  textbook mergeable-summary contract). Estimates are a broadcast join
  of candidates against the D×W table; the exact top-k here exists only
  to report the overestimate and would be the sketch's output at scale.

Reference: the reference engine has no sketches (SURVEY §2A — it is a
message broker); these extend the north-star curation surface like
`pipeline_decontaminate` (decontam.py) does.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from cascade_spark.operators._util import barrier, bigint, t, widen
from cascade_spark.operators.decontam import BENCH_MOD, _bench_flag
from cascade_spark.operators.dedup import _SQL_SHINGLES, _shingles
from cascade_spark.plans.registry import register

BLOOM_M = 1 << 16  # bloom slots — fixed memory no matter the benchmark size
BLOOM_K = 4  # hash functions

CMS_D = 3  # sketch depth (independent hash rows)
CMS_W = 512  # sketch width (counters per row)
CMS_TOPK = 20


def _h(expr: Column, salt: str) -> Column:
    """32-bit md5-derived hash, identical in DuckDB via the '0x' cast."""
    return F.conv(F.substring(F.md5(F.concat(expr, F.lit(salt))), 1, 8), 16, 10).cast(
        "long"
    )


def _sql_h(expr: str, salt: str) -> str:
    return f"('0x' || SUBSTR(MD5({expr} || '{salt}'), 1, 8))::BIGINT"


@register(
    "pipeline_decontaminate_bloom",
    doc="Bloom-filter benchmark decontamination: the benchmark 3-gram "
    "index is compressed into a fixed 2^16-slot bit-position set "
    f"({BLOOM_K} md5-derived hashes per shingle); the corpus is scored "
    "map-only against the broadcast position set (a shingle is a "
    "bloom-maybe iff all K positions are set). Docs with >= 20% "
    "bloom-flagged shingles are reported with the exact shared count "
    "alongside, so the bloom false-positive overhead (bloom_fp) is "
    "itself part of the verified output. Deterministic hash family -> "
    "fully hash-checked against a DuckDB replica of the same sketch.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
bench AS (
    SELECT doc_id FROM documents
    WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {BENCH_MOD} = 0
),
bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id IN (SELECT doc_id FROM bench)),
bloompos AS (
    SELECT DISTINCT
        ('0x' || SUBSTR(MD5(s || '#' || i), 1, 8))::BIGINT % {BLOOM_M} AS pos, i
    FROM bsh, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {BLOOM_K - 1})) AS i)
),
corp AS (SELECT doc_id, s FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM bench)),
scored AS (
    SELECT c.doc_id,
           ({" AND ".join(f"b{i}.pos IS NOT NULL" for i in range(BLOOM_K))}) AS maybe,
           e.s AS hit
    FROM corp c
    {" ".join(f"LEFT JOIN (SELECT pos FROM bloompos WHERE i = {i}) b{i} ON b{i}.pos = {_sql_h('c.s', f'#{i}')} % {BLOOM_M}" for i in range(BLOOM_K))}
    LEFT JOIN bsh e ON e.s = c.s
),
stats AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE maybe) AS BIGINT) AS n_bloom,
           CAST(COUNT(hit) AS BIGINT) AS n_exact
    FROM scored GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_bloom, n_exact, n_bloom - n_exact AS bloom_fp
FROM stats
WHERE n_bloom * 5 >= n_shingles
ORDER BY doc_id
""",
)
def pipeline_decontaminate_bloom(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # the K position sets + the exact-hit frame below each reference
    # this frame: evaluate the bench-doc scan + shingle explode +
    # distinct once instead of K+1 times
    bench_sh = (
        _shingles(d.filter(_bench_flag())).select("s").distinct()
        .transform(barrier)
    )
    # per-seed position sets: i is part of the key so a slot set by seed
    # j never satisfies seed i (a stricter-than-classic bloom that is
    # easier to replicate exactly; FP rate is lower, never higher)
    bloom_pos = [
        bench_sh.select((_h(F.col("s"), f"#{i}") % BLOOM_M).alias(f"pos{i}"))
        .distinct()
        .withColumn(f"m{i}", F.lit(1))
        for i in range(BLOOM_K)
    ]
    exact = bench_sh.withColumn("_hit", F.lit(1))

    cur = _shingles(d.filter(~_bench_flag()))
    for i in range(BLOOM_K):
        cur = cur.withColumn(f"pos{i}", _h(F.col("s"), f"#{i}") % BLOOM_M).join(
            F.broadcast(bloom_pos[i]), f"pos{i}", "left"
        )
    cur = cur.join(F.broadcast(exact), "s", "left")
    maybe = F.expr(" AND ".join(f"m{i} IS NOT NULL" for i in range(BLOOM_K)))
    stats = cur.groupBy("doc_id").agg(
        bigint(F.count(F.lit(1))).alias("n_shingles"),
        bigint(F.count_if(maybe)).alias("n_bloom"),
        bigint(F.count("_hit")).alias("n_exact"),
    )
    return (
        stats.filter(F.col("n_bloom") * 5 >= F.col("n_shingles"))
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom",
            "n_exact",
            (F.col("n_bloom") - F.col("n_exact")).alias("bloom_fp"),
        )
        .orderBy("doc_id")
    )


@register(
    "profile_cms_heavy_hitters",
    doc=f"Count-min-sketch heavy hitters: every token occurrence updates "
    f"{CMS_D} md5-derived counters in a {CMS_D}x{CMS_W} sketch (one "
    "map-side-combinable groupBy — at most D*W partials leave any "
    "executor regardless of token volume); the top-"
    f"{CMS_TOPK} exact tokens are then estimated as min-over-rows from "
    "the broadcast sketch. Output pins exact count, CMS estimate, and "
    "the (always >= 0) overestimate — the sketch-error audit a pipeline "
    "runs before trusting CMS at 100 TB.",
    oracle=f"""
WITH tok AS (
    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
trip AS (
    SELECT i AS d,
           ('0x' || SUBSTR(MD5(w || '@' || i), 1, 8))::BIGINT % {CMS_W} AS pos
    FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {CMS_D - 1})) AS i)
),
sketch AS (SELECT d, pos, CAST(COUNT(*) AS BIGINT) AS c FROM trip GROUP BY d, pos),
exact AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_count
    FROM tok GROUP BY w ORDER BY exact_count DESC, w LIMIT {CMS_TOPK}
)
SELECT e.w, e.exact_count,
       LEAST({", ".join(f"s{i}.c" for i in range(CMS_D))}) AS cms_est,
       LEAST({", ".join(f"s{i}.c" for i in range(CMS_D))}) - e.exact_count AS overestimate
FROM exact e
{" ".join(f"JOIN sketch s{i} ON s{i}.d = {i} AND s{i}.pos = {_sql_h('e.w', f'@{i}')} % {CMS_W}" for i in range(CMS_D))}
ORDER BY e.exact_count DESC, e.w
""",
)
def profile_cms_heavy_hitters(spark, sf_dir):
    tok = widen(t(spark, sf_dir, "documents")).select(
        F.explode(F.split("text", " ")).alias("w")
    )
    # one explode pass: occurrences pre-aggregate to word counts; the
    # sketch then hashes each DISTINCT word CMS_D times weighted by its
    # count (identical (d, pos) cell totals), and the exact top-K reads
    # the same frame — the old plan exploded documents twice and re-ran
    # the occurrence-level hash explode once per sketch depth
    wcnt = tok.groupBy("w").agg(
        bigint(F.count(F.lit(1))).alias("exact_count")
    ).transform(barrier)
    trip = wcnt.select(
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        (_h(F.col("w"), f"@{i}") % CMS_W).alias("pos"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("e"),
    ).select("e.d", "e.pos", "exact_count")
    sketch = trip.groupBy("d", "pos").agg(
        bigint(F.sum("exact_count")).alias("c")
    # referenced once per sketch depth below
    ).transform(barrier)

    exact = wcnt.orderBy(F.desc("exact_count"), "w").limit(CMS_TOPK)
    est = exact
    for i in range(CMS_D):
        si = sketch.filter(F.col("d") == i).select(
            F.col("pos").alias(f"pos{i}"), F.col("c").alias(f"c{i}")
        )
        est = est.withColumn(f"pos{i}", _h(F.col("w"), f"@{i}") % CMS_W).join(
            F.broadcast(si), f"pos{i}", "inner"
        )
    cms = F.least(*[F.col(f"c{i}") for i in range(CMS_D)])
    return est.select(
        "w",
        "exact_count",
        cms.alias("cms_est"),
        (cms - F.col("exact_count")).alias("overestimate"),
    ).orderBy(F.desc("exact_count"), "w")


KMV_K = 16
KMV_H_MAX = 1 << 32  # md5-derived 32-bit hash space


@register(
    "agg_kmv_distinct_sketch",
    doc=f"KMV (k-minimum-values) distinct-count sketch, k={KMV_K}: keep "
    "the k smallest md5-derived 32-bit hashes of user_id — a bottom-k "
    "sketch is MERGEABLE (union = bottom-k of the unions) and doubles "
    "as a uniform sample. Estimator N-hat = (k-1)*H_MAX/h_(k) in exact "
    "integer floor arithmetic next to the true distinct count, plus "
    "the kth hash and the bottom-k checksum proving the exact sketch "
    "contents. Per-partition bottom-k then global bottom-k — the "
    "sort_topk_global shape; the verifiable cousin of "
    "agg_approx_count_distinct/HLL (those are rows-only; the md5 hash "
    "family makes THIS one hash-checkable).",
    oracle=f"""
WITH hashed AS (
    SELECT DISTINCT ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
    FROM events WHERE user_id IS NOT NULL
),
bottom AS (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM hashed
    ORDER BY h LIMIT {KMV_K}
),
true_n AS (
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_true
    FROM events WHERE user_id IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
       CAST(MAX(h) AS BIGINT) AS h_k,
       CAST(SUM(h) AS BIGINT) AS sketch_checksum,
       (SELECT n_true FROM true_n) AS n_true,
       CAST(CASE WHEN COUNT(*) < {KMV_K}
            THEN (SELECT n_true FROM true_n)
            ELSE (({KMV_K} - 1) * CAST({KMV_H_MAX} AS HUGEINT)) // MAX(h)
            END AS BIGINT) AS kmv_estimate
FROM bottom
""",
)
def agg_kmv_distinct_sketch(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    hashed = ev.select(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h")
    ).distinct()
    bottom = hashed.orderBy("h").limit(KMV_K)
    true_n = ev.agg(F.countDistinct("user_id").cast("long").alias("n_true"))
    agg = bottom.agg(
        bigint(F.count(F.lit(1))).alias("k_used"),
        bigint(F.max("h")).alias("h_k"),
        bigint(F.sum("h")).alias("sketch_checksum"),
    )
    return agg.crossJoin(F.broadcast(true_n)).select(
        "k_used",
        "h_k",
        "sketch_checksum",
        "n_true",
        F.when(F.col("k_used") < KMV_K, F.col("n_true"))
        .otherwise(
            F.floor(
                (F.lit(KMV_K - 1) * F.lit(KMV_H_MAX).cast("decimal(38,0)"))
                / F.col("h_k")
            )
        )
        .cast("long")
        .alias("kmv_estimate"),
    )


THETA_LG_K = 14  # exact while per-sketch distinct ≤ 2^14 nominal entries


@register(
    "agg_theta_sketch_distinct",
    doc="Theta-sketch distinct users per event_type plus the 'ALL' row "
    "from theta_union_agg over the five per-type sketches — the "
    "re-aggregatable rollup shape (union the SKETCHES, never recount "
    f"the rows). lgNomEntries = {THETA_LG_K} declared: estimates are "
    "EXACT while each sketch holds ≤ 2^14 distinct keys (fixture: "
    "1,500 users), so the result hash-checks against COUNT(DISTINCT); "
    "past the cap the sketch enters sampling mode and the contract "
    "becomes tolerance-only (the agg_percentile_approx_exact_regime "
    "precedent). One map-side-combinable pass; sketch state is fixed "
    "size per group at any corpus scale.",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
ORDER BY event_type
""",
)
def agg_theta_sketch_distinct(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id", THETA_LG_K).alias("sk")
    )
    typed = per.select(
        "event_type", F.theta_sketch_estimate("sk").cast("long").alias("n_users")
    )
    union = per.agg(
        F.theta_sketch_estimate(F.theta_union_agg("sk", THETA_LG_K))
        .cast("long")
        .alias("n_users")
    ).select(F.lit("ALL").alias("event_type"), "n_users")
    return typed.unionByName(union).orderBy("event_type")


@register(
    "agg_theta_sketch_setops",
    doc="Theta-sketch SET ALGEBRA on the click vs purchase user sets: "
    "|click|, |purchase|, |click ∩ purchase| (theta_intersection), "
    "|click \\ purchase| (theta_difference) — the audience-overlap "
    "query HLL cannot answer (HLL unions only). Exact regime per "
    f"lgNomEntries = {THETA_LG_K} (see agg_theta_sketch_distinct), so "
    "every estimate hash-checks against the relational set operators. "
    "Two conditional sketch aggregates in ONE pass over events, then "
    "scalar sketch ops on the 1-row frame — no re-scan per set op.",
    oracle="""
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE user_id IN
            (SELECT user_id FROM p)) AS n_both,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE user_id NOT IN
            (SELECT user_id FROM p)) AS n_click_only
""",
)
def agg_theta_sketch_setops(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    sk = ev.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id")),
            THETA_LG_K,
        ).alias("sc"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id")),
            THETA_LG_K,
        ).alias("sp"),
    )
    return sk.select(
        F.theta_sketch_estimate("sc").cast("long").alias("n_click"),
        F.theta_sketch_estimate("sp").cast("long").alias("n_purchase"),
        F.theta_sketch_estimate(F.theta_intersection("sc", "sp"))
        .cast("long")
        .alias("n_both"),
        F.theta_sketch_estimate(F.theta_difference("sc", "sp"))
        .cast("long")
        .alias("n_click_only"),
    )
