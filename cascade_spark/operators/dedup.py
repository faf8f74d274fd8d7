"""Deduplication operators — the LLM-data-pipeline north-star surface.

Four flavors over ``documents`` (exact → fuzzy), all *deterministic* so
the DuckDB oracle can hash-check them (no MLlib random hash families —
hash functions are md5-derived and identical in both engines; cross-
engine parity of ``conv(hex,16,10)`` vs ``('0x'||hex)::BIGINT`` verified).

Scale design (100 TB corpora):
- exact: one hash-groupBy, fully map-side combinable.
- n-gram Jaccard: shingle inverted index self-join. The candidate
  explosion is bounded by dropping ultra-common shingles (document
  frequency cap — standard practice; the cap is a declared constant so
  the oracle applies the same rule).
- MinHash+LSH: fixed 16-hash signature, 4 bands × 4 rows; candidates
  only materialize on band-hash equality, estimated Jaccard from
  signature agreement. This is the scale path: cost is linear in corpus
  size + band-bucket collisions, never O(n²).
- SimHash: 48-bit fingerprint; near-dup candidates via 4×12-bit band
  equality, verified by Hamming distance ≤ threshold (bit_count(xor)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier_eager, bigint, t, widen

# The aggregate spine counters, re-exported from the store under their
# historical import path (perfbench reads them from here).
CACHE_STATS = store.CACHE_STATS

N_HASHES = 16
BANDS = 4  # rows per band = N_HASHES // BANDS = 4
SHINGLE_DF_FRAC = 0.01  # drop shingles appearing in > 1% of docs
SIMHASH_BITS = 48
SIMHASH_BAND_BITS = 12
HAMMING_MAX = 6
# Band-bucket admission cap: the candidate self-join is quadratic WITHIN
# a bucket, so a degenerate corpus (many near-empty docs -> identical
# band chunks, e.g. simhash 0) makes one bucket O(n²) at scale. Buckets
# above the cap are dropped — same bound class as SHINGLE_DF_FRAC for
# Jaccard. 1024² ≈ 1M comparisons is the per-bucket worst case; both
# test scales stay far below it (max bucket: 57 at sf0.01, 549 at
# sf0.1), so capped output is identical there. Dropped buckets are
# observable via the profile_simhash_buckets declared query.
SIMHASH_BUCKET_CAP = 1024

# MinHash = affine permutations of ONE md5-derived 30-bit base hash:
# h_k(s) = (A[k]*h0(s) + B[k]) mod P. One md5 per shingle instead of 16;
# products stay < 2^61 (exact in both engines). Constants are fixed
# literals so Spark and the SQL oracle agree bit-for-bit.
MH_P = 2147483647
MH_MASK = 0x3FFFFFFF
MH_A = [1103527591, 1695244727, 235077491, 964188549, 1753372583, 353941905,
        903445859, 997091989, 312838097, 782567119, 1850963445, 1254414915,
        1001055743, 349412203, 1743826123, 1019706863]
MH_B = [944465040, 1008001095, 776026401, 19180611, 504528511, 1712234077,
        692473355, 327077523, 1146181179, 258554284, 1323503542, 1234130407,
        2029304596, 1105833931, 2072697953, 480168534]


def _shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """Word 3-gram shingles per doc (empty for docs < 3 words).

    posexplode + window-lead rather than array higher-order functions:
    HOFs (transform/element_at/array_distinct) evaluate interpreted
    per-element and were the measured bottleneck; the window form is one
    doc_id shuffle with codegen'd projections, and dedup happens in the
    shuffle instead of a quadratic per-row array_distinct.

    ``distinct=False`` skips the dedup shuffle for duplicate-insensitive
    consumers (MIN-aggregating minhash signatures) — the following
    groupBy(doc_id) reuses the window's hash partitioning, so the whole
    signature path costs exactly one shuffle.
    """
    from pyspark.sql import Window

    w = widen(docs).select("doc_id", F.posexplode(F.split("text", " ")).alias("p", "w"))
    win = Window.partitionBy("doc_id").orderBy("p")
    sh = (
        w.select(
            "doc_id",
            F.concat_ws(" ", "w", F.lead("w", 1).over(win), F.lead("w", 2).over(win)).alias("s"),
            F.lead("w", 2).over(win).alias("_w3"),
        )
        .filter(F.col("_w3").isNotNull())
        .drop("_w3")
    )
    return sh.dropDuplicates(["doc_id", "s"]) if distinct else sh


_SQL_SHINGLES = """
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w) - 2)) AS i)
"""


@register(
    "dedup_exact",
    doc="Exact dedup: md5 content fingerprint over normalized text, "
    "hash-groupBy (map-side combinable — the cheapest pass over 100 TB).",
    oracle="""
WITH fp AS (
    SELECT doc_id,
           MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
)
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT fingerprint) AS n_unique,
       COUNT(*) - COUNT(DISTINCT fingerprint) AS n_dupes,
       MIN(fingerprint) AS min_fp
FROM fp
""",
)
def dedup_exact(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("fingerprint"),
    )
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fingerprint")).alias("n_dupes"),
        F.min("fingerprint").alias("min_fp"),
    )


@register(
    "dedup_ngram_jaccard",
    doc="n-gram Jaccard near-dup pairs via shingle inverted-index "
    "self-join; DF-capped shingles bound the candidate set; the "
    "threshold test (|∩|·5 ≥ |∪|, i.e. J ≥ 0.2) is exact integer "
    "arithmetic on both engines.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
common AS (SELECT s FROM sh GROUP BY s
           HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {SHINGLE_DF_FRAC}),
sh2 AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM common)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
    FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT p.d1, p.d2, p.inter,
       (sa.n + sb.n - p.inter) AS uni,
       ROUND(CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter), 4) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.d1
JOIN sizes sb ON sb.doc_id = p.d2
WHERE p.inter * 5 >= (sa.n + sb.n - p.inter)
ORDER BY p.d1, p.d2
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    uni = F.col("na") + F.col("nb") - F.col("inter")
    return (
        _shingle_overlap_pairs(spark, sf_dir)
        .filter(F.col("inter") * 5 >= uni)
        .select(
            "d1",
            "d2",
            "inter",
            uni.alias("uni"),
            F.round(F.col("inter").cast("double") / uni, 4).alias("jaccard"),
        )
        .orderBy("d1", "d2")
    )


# The signature index and candidate-pair list are shared by four
# declared queries (minhash_lsh, connected_components, incremental,
# decontaminate-adjacent paths). In production this IS a maintained
# index — computed once per corpus generation and reused by every
# downstream dedup job — so the engine materializes it once per
# (session, sf_dir) through ``store.frame`` and persists it (a few long
# columns per doc: negligible next to the corpus). The other dedup
# spines below share the same discipline.


def _raw_shingle_index(spark, sf_dir) -> DataFrame:
    """UNCAPPED distinct (doc_id, s) shingle inverted index, s as an
    xxhash64 fingerprint (8-byte keys vs ~30-byte strings; equality
    classes — and hence every count downstream — are unchanged barring
    a 64-bit collision, ~1e-5 corpus-wide even at 10^10 distinct
    shingles). Shared (round 12) by the capped-index build, the
    minhash sketch-error audit (true-Jaccard recount) and the shingle-DF
    profile, which each re-ran the posexplode+window shingling pass over
    the corpus — the single most expensive map stage in the family."""

    def build() -> DataFrame:
        d = t(spark, sf_dir, "documents")
        return _shingles(d).select("doc_id", F.xxhash64("s").alias("s"))

    return store.frame("dedup.raw_shingles", spark, sf_dir, build)


def _capped_shingle_index(spark, sf_dir) -> DataFrame:
    """DF-capped xxhash64 shingle inverted index (doc_id, s) — the
    frame the n-gram Jaccard AND containment passes both join on.
    Built from the shared raw index and persisted once per (app,
    sf_dir) like the signature index: in production this IS the
    maintained inverted index of the corpus generation."""

    def build() -> DataFrame:
        d = t(spark, sf_dir, "documents")
        sh = _raw_shingle_index(spark, sf_dir)
        n_docs = d.agg(F.count(F.lit(1)).alias("_nd"))
        common = (
            sh.groupBy("s")
            .count()
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("count") > F.col("_nd") * SHINGLE_DF_FRAC)
            .select("s")
        )
        return sh.join(common, "s", "left_anti")

    return store.frame("dedup.capped_shingles", spark, sf_dir, build)


def _shingle_overlap_pairs(spark, sf_dir) -> DataFrame:
    """(d1, d2, inter, na, nb) for every doc pair sharing ≥1 DF-capped
    shingle — the inverted-index self-join + size attach that FOUR
    declared queries (n-gram Jaccard, containment, LSH recall audit,
    corpus report) each recomputed identically (round 12, guide §2.4:
    share one exchange). The pair list is candidate-bounded (DF cap),
    tiny next to the corpus, and in production is maintained alongside
    the inverted index it derives from."""

    def build() -> DataFrame:
        sh2 = _capped_shingle_index(spark, sf_dir)
        sizes = sh2.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
        a, b = sh2.alias("a"), sh2.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        )
        sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"))
        return pairs.join(sa, "d1").join(sb, "d2")

    return store.frame("dedup.overlap_pairs", spark, sf_dir, build)


def _signatures(spark, sf_dir) -> DataFrame:
    """One row per doc: columns h0..h15 (minhash signature) — a single
    md5 per shingle + 16 affine permutations folded into ONE groupBy
    pass (no seed-explosion shuffle). Shingle duplicates are kept: MIN
    is duplicate-insensitive, so the distinct shuffle is skipped.
    Persisted once per (app, sf_dir) — see the signature-index note above."""

    def build() -> DataFrame:
        d = t(spark, sf_dir, "documents")
        sh = _shingles(d, distinct=False)
        base = sh.select(
            "doc_id",
            F.conv(F.substring(F.md5("s"), 1, 8), 16, 10)
            .cast("long")
            .bitwiseAND(MH_MASK)
            .alias("h0"),
        )
        mins = [
            F.min((F.lit(MH_A[k]) * F.col("h0") + MH_B[k]) % MH_P).alias(f"h{k}")
            for k in range(N_HASHES)
        ]
        return base.groupBy("doc_id").agg(*mins)

    return store.frame("dedup.signatures", spark, sf_dir, build)


_SQL_SIGNATURES = f"""
    SELECT doc_id,
           {", ".join(
               f"MIN(({MH_A[k]} * h0 + {MH_B[k]}) % {MH_P}) AS h{k}"
               for k in range(N_HASHES)
           )}
    FROM (
        SELECT doc_id,
               ('0x' || SUBSTR(MD5(s), 1, 8))::BIGINT & {MH_MASK} AS h0
        FROM ({_SQL_SHINGLES})
    )
    GROUP BY doc_id
"""


# sig → bands → candidate pairs → signature-agreement scores: shared by
# the pair query (dedup_minhash_lsh) and the cluster query
# (dedup_connected_components).
_SQL_PAIR_CTES = f"""sig AS ({_SQL_SIGNATURES}),
bands AS (
    SELECT doc_id, band,
           MD5({" || ',' || ".join(
               "CASE band " + " ".join(
                   f"WHEN {b} THEN CAST(h{b * (N_HASHES // BANDS) + r} AS VARCHAR)"
                   for b in range(BANDS)
               ) + " END"
               for r in range(N_HASHES // BANDS)
           )}) AS bh
    FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {BANDS - 1})) AS band)
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sim AS (
    SELECT c.d1, c.d2,
           ({" + ".join(
               f"CASE WHEN x.h{k} = y.h{k} THEN 1 ELSE 0 END" for k in range(N_HASHES)
           )}) AS matches
    FROM cand c
    JOIN sig x ON x.doc_id = c.d1
    JOIN sig y ON y.doc_id = c.d2
)"""


@register(
    "dedup_minhash_lsh",
    doc="MinHash+LSH near-dup: 16 md5-derived min-hashes, 4 bands × 4 "
    "rows; candidate pairs share a band hash; estimated Jaccard = "
    "signature agreement / 16, kept at ≥ 0.5. Deterministic → fully "
    "oracle-checked (unlike MLlib's randomized MinHashLSH).",
    oracle=f"""
WITH {_SQL_PAIR_CTES}
SELECT d1, d2, CAST(matches AS BIGINT) AS matches,
       CAST(matches AS DOUBLE) / {N_HASHES} AS est_jaccard
FROM sim WHERE matches * 2 >= {N_HASHES}
ORDER BY d1, d2
""",
)
def dedup_minhash_lsh(spark, sf_dir):
    return (
        _lsh_pairs(spark, sf_dir)
        .select(
            "d1",
            "d2",
            F.col("matches").cast("long").alias("matches"),
            (F.col("matches").cast("double") / N_HASHES).alias("est_jaccard"),
        )
        .orderBy("d1", "d2")
    )


def _lsh_pairs(spark, sf_dir) -> DataFrame:
    """Near-dup pairs (d1 < d2, signature agreement ≥ half): the shared
    candidate machinery behind the pair and cluster queries. Persisted
    once per (app, sf_dir) — pair lists are tiny next to the corpus."""

    def build() -> DataFrame:
        return _build_lsh_pairs(spark, sf_dir)

    return store.frame("dedup.lsh_pairs", spark, sf_dir, build)


def _build_lsh_pairs(spark, sf_dir) -> DataFrame:
    sig = _signatures(spark, sf_dir)
    rpb = N_HASHES // BANDS
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(f"h{b * rpb + r}") for r in range(rpb)])).alias("bh"),
        )
        for b in range(BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_rows)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    x = sig.select(F.col("doc_id").alias("d1"), *[F.col(f"h{k}").alias(f"x{k}") for k in range(N_HASHES)])
    y = sig.select(F.col("doc_id").alias("d2"), *[F.col(f"h{k}").alias(f"y{k}") for k in range(N_HASHES)])
    matches = sum(
        F.when(F.col(f"x{k}") == F.col(f"y{k}"), 1).otherwise(0) for k in range(N_HASHES)
    )
    return (
        cand.join(x, "d1")
        .join(y, "d2")
        .select("d1", "d2", matches.alias("matches"))
        .filter(F.col("matches") * 2 >= N_HASHES)
    )


# Edge lists up to this size are solved with driver-side union-find —
# the contracted near-dup graph is tiny next to the corpus (the
# expensive, distributed part is FINDING the pairs). Above it, the
# O(diameter) min-label-propagation loop runs (GraphFrames makes the
# same small-graph/local cutover in its CC implementation).
LOCAL_CC_MAX_EDGES = 2_000_000


def _cc_local(pair_rows):
    """Union-find with min-id roots: comp(x) = min doc_id of x's
    component — identical output to the distributed loop."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for a, b in pair_rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in sorted(nodes)]


# Min-label propagation needs O(graph diameter) rounds. Near-dup
# clusters are quasi-cliques (2-4 hops), so 32 is generous — but a
# pathological chain-shaped component MUST NOT silently return
# unconverged labels (wrong components, no error), so the loop verifies
# convergence and raises past the cap instead of breaking.
CC_MAX_ITERS = 32


def _cc_labels_distributed(edges, labels, max_iters=None):
    """Min-label propagation over (src, nbr) edges — one co-partitioned
    join + min-aggregate per iteration, O(graph diameter) iterations
    (near-dup clusters are quasi-cliques: 2-4 hops). persist() keeps
    each iteration from recomputing lineage. Raises RuntimeError if the
    labels have not converged within max_iters — unconverged labels are
    WRONG components and must never be returned silently."""
    from pyspark import StorageLevel

    cap = CC_MAX_ITERS if max_iters is None else max_iters
    changed = 1
    for _ in range(cap):
        nbr_comp = labels.select(
            F.col("node").alias("nbr"), F.col("comp").alias("nbr_comp")
        )
        pulled = edges.join(nbr_comp, "nbr").groupBy("src").agg(
            F.min("nbr_comp").alias("pulled_min")
        )
        proposed = labels.join(
            pulled, labels["node"] == pulled["src"], "left"
        ).select(
            "node",
            "comp",
            F.least(F.col("comp"), F.coalesce("pulled_min", "comp")).alias("new_comp"),
        )
        proposed = proposed.persist(StorageLevel.MEMORY_AND_DISK)
        changed = proposed.filter(F.col("new_comp") < F.col("comp")).limit(1).count()
        # localCheckpoint TRUNCATES lineage: each round's plan references
        # `labels` twice (directly + through `pulled`), so without
        # truncation the logical plan doubles per iteration — fine at
        # near-dup diameters (2-4 hops) but a guaranteed 2 GiB
        # plan-string blowup on chain-shaped components long before the
        # iteration cap. Checkpointing keeps every round O(1) plan size.
        new_labels = proposed.select(
            "node", F.col("new_comp").alias("comp")
        ).transform(barrier_eager)
        proposed.unpersist()
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected-components min-label propagation did not "
            f"converge within {cap} iterations — component diameter "
            f"exceeds the cap; raise CC_MAX_ITERS (labels would be "
            f"wrong, refusing to return them)"
        )
    return labels


def _cc_label_frame(spark, sf_dir):
    """(node, comp) labels of the LSH near-dup graph — shared by the
    component-summary query and the canonical-pick query (cached since
    round 12: both ran the union-find/propagation from the pair list
    independently). Local union-find under LOCAL_CC_MAX_EDGES, min-label
    propagation above."""
    from pyspark import StorageLevel

    def build() -> DataFrame:
        # _lsh_pairs is already persisted by its cache; the projection
        # here is cheap lineage over it.
        pairs = _lsh_pairs(spark, sf_dir).select("d1", "d2")
        if pairs.count() <= LOCAL_CC_MAX_EDGES:
            # collect, not toLocalIterator: the latter launches one job
            # per partition (32 round-trips for a 256-row edge list);
            # the edge list is ≤2M×2 longs — one fetch.
            rows = [(r[0], r[1]) for r in pairs.collect()]
            return spark.createDataFrame(_cc_local(rows), "node long, comp long")
        fwd = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("nbr"))
        rev = pairs.select(F.col("d2").alias("src"), F.col("d1").alias("nbr"))
        edges = fwd.union(rev).persist(StorageLevel.MEMORY_AND_DISK)
        init = (
            edges.select("src").distinct().select(F.col("src").alias("node"))
            .withColumn("comp", F.col("node"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        return _cc_labels_distributed(edges, init)

    return store.frame("dedup.cc_labels", spark, sf_dir, build)


@register(
    "dedup_connected_components",
    doc="Near-dup cluster assignment: LSH pairs become an undirected "
    "graph; each node converges to the minimum doc_id of its component. "
    "The contracted graph is solved locally (union-find) when the edge "
    "list is small — the distributed work is FINDING the pairs — and "
    "falls back to iterative min-label propagation (MapReduce-CC / "
    "GraphX style, O(diameter) joins) above LOCAL_CC_MAX_EDGES. Oracle "
    "is a DuckDB recursive-CTE transitive closure — both engines agree "
    "exactly because labels are integer mins, no floats anywhere.",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIR_CTES},
pairs AS (SELECT d1, d2 FROM sim WHERE matches * 2 >= {N_HASHES}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
reach(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (
    SELECT src AS node, LEAST(src, MIN(dst)) AS comp
    FROM reach GROUP BY src
)
SELECT CAST(comp AS BIGINT) AS component_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(node) AS BIGINT) AS max_doc
FROM comp GROUP BY comp ORDER BY component_id
""",
)
def dedup_connected_components(spark, sf_dir):
    labels = _cc_label_frame(spark, sf_dir)
    return (
        labels.groupBy(F.col("comp").cast("long").alias("component_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("node").cast("long").alias("max_doc"),
        )
        .orderBy("component_id")
    )


@register(
    "dedup_cluster_canonical",
    doc="Canonical-document selection per near-dup cluster — the KEEP "
    "side of cluster dedup (the step after dedup_connected_components "
    "that actually decides which row survives): within each component "
    "the longest document wins (n_chars DESC, doc_id ASC tiebreak), "
    "everything else is purged. Output per cluster: the canonical doc, "
    "member/purge counts, and the exact characters removed — the "
    "numbers a dataset card reports for dedup shrinkage. The rank "
    "window runs per-component (components are near-dup clusters, "
    "bounded by the LSH pair structure, never corpus-sized); labels "
    "reuse the shared persisted pair frame.",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIR_CTES},
pairs AS (SELECT d1, d2 FROM sim WHERE matches * 2 >= {N_HASHES}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
reach(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
lab AS (
    SELECT src AS node, LEAST(src, MIN(dst)) AS comp
    FROM reach GROUP BY src
),
m AS (
    SELECT l.comp, d.doc_id, d.n_chars,
           ROW_NUMBER() OVER (PARTITION BY l.comp
                              ORDER BY d.n_chars DESC, d.doc_id) AS rn
    FROM lab l JOIN documents d ON d.doc_id = l.node
)
SELECT CAST(comp AS BIGINT) AS component_id,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS canonical_doc,
       CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS canonical_chars,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(n_chars) - MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
           AS chars_purged
FROM m GROUP BY comp ORDER BY component_id
""",
)
def dedup_cluster_canonical(spark, sf_dir):
    from pyspark.sql import Window

    labels = _cc_label_frame(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = labels.join(docs, labels["node"] == docs["doc_id"])
    w = Window.partitionBy("comp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = m.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("comp").cast("long").alias("component_id"))
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("canonical_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("long")
            .alias("canonical_chars"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            (
                F.sum("n_chars") - F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
            )
            .cast("long")
            .alias("chars_purged"),
        )
        .orderBy("component_id")
    )


def _simhash_sig(spark, sf_dir) -> DataFrame:
    """(doc_id, simhash) 48-bit fingerprints — the md5-per-word explode
    and 48-way bit-vote aggregate is the expensive pass of the SimHash
    family; shared (round 12) by dedup_simhash and its bucket audit
    profile_simhash_buckets, which recomputed it identically. In
    production this IS the maintained fingerprint column of the corpus
    generation (one long per doc)."""

    def build() -> DataFrame:
        d = t(spark, sf_dir, "documents")
        wh = (
            widen(d).select("doc_id", F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .select(
                "doc_id",
                F.conv(F.substring(F.md5("w"), 1, SIMHASH_BITS // 4), 16, 10)
                .cast("long")
                .alias("h"),
            )
        )
        # one groupBy pass: 48 conditional popcount sums + count, then
        # pack sign bits — avoids a 48× row explosion before the shuffle
        votes = wh.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.expr(f"(h >> {j}) & 1")).alias(f"s{j}")
                for j in range(SIMHASH_BITS)
            ],
        )
        simhash = sum(
            F.when(2 * F.col(f"s{j}") > F.col("n"), F.lit(1 << j).cast("long")).otherwise(0)
            for j in range(SIMHASH_BITS)
        )
        return votes.select("doc_id", simhash.alias("simhash"))

    return store.frame("dedup.simhash_signatures", spark, sf_dir, build)




@register(
    "dedup_simhash",
    doc="48-bit SimHash fingerprints (md5-derived word hashes, "
    "frequency-weighted bit votes) + near-dup pairs via 4×12-bit band "
    "candidates and Hamming ≤ 6 verification (bit_count(xor)). Band "
    "buckets above SIMHASH_BUCKET_CAP are dropped before the self-join "
    "(quadratic-within-bucket bound; cap is part of the declared "
    "semantics — the oracle applies it too).",
    oracle=f"""
WITH wh AS (
    SELECT doc_id, ('0x' || SUBSTR(MD5(w), 1, {SIMHASH_BITS // 4}))::BIGINT AS h
    FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
    WHERE w <> ''
),
sig AS (
    -- one pass: bit-vote sum_j = 2*popcount_j - n; bit set iff positive
    SELECT doc_id,
           ({" + ".join(
               f"CASE WHEN 2 * SUM((h >> {j}) & 1) > COUNT(*) "
               f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
               for j in range(SIMHASH_BITS)
           )}) AS simhash
    FROM wh GROUP BY doc_id
),
banded0 AS (
    SELECT doc_id, simhash, k,
           (simhash >> (k * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS chunk
    FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {BANDS - 1})) AS k)
),
banded AS (
    SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY k, chunk) AS bucket_n FROM banded0
    ) WHERE bucket_n <= {SIMHASH_BUCKET_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           a.simhash AS s1, b.simhash AS s2
    FROM banded a JOIN banded b
      ON a.k = b.k AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(BIT_COUNT(XOR(s1, s2)) AS BIGINT) AS hamming
FROM cand
WHERE BIT_COUNT(XOR(s1, s2)) <= {HAMMING_MAX}
ORDER BY d1, d2
""",
)
def dedup_simhash(spark, sf_dir):
    sig = _simhash_sig(spark, sf_dir)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    ks = sig.sparkSession.range(BANDS).select(F.col("id").cast("int").alias("k"))
    banded = sig.crossJoin(F.broadcast(ks)).select(
        "doc_id",
        "simhash",
        "k",
        F.expr(f"(simhash >> (k * {SIMHASH_BAND_BITS})) & {mask}").alias("chunk"),
    )
    # Bucket-size admission via a window count over the SAME (k, chunk)
    # key the self-join shuffles on — no extra join, the count rides the
    # join's hash partitioning. Oversized buckets never reach the
    # quadratic stage.
    from pyspark.sql import Window

    bucket_n = F.count(F.lit(1)).over(Window.partitionBy("k", "chunk"))
    banded = banded.withColumn("bucket_n", bucket_n).filter(
        F.col("bucket_n") <= SIMHASH_BUCKET_CAP
    ).drop("bucket_n")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.filter(hamming <= HAMMING_MAX)
        .select("d1", "d2", hamming.cast("long").alias("hamming"))
        .orderBy("d1", "d2")
    )

@register(
    "profile_simhash_buckets",
    doc="SimHash band-bucket audit — per band: bucket count, max bucket "
    "size, and docs that the SIMHASH_BUCKET_CAP admission drops. This is "
    "the observable 'what was dropped' companion to dedup_simhash (a "
    "lazy plan can't log; an auditable query can).",
    oracle=f"""
WITH wh AS (
    SELECT doc_id, ('0x' || SUBSTR(MD5(w), 1, {SIMHASH_BITS // 4}))::BIGINT AS h
    FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
    WHERE w <> ''
),
sig AS (
    SELECT doc_id,
           ({" + ".join(
               f"CASE WHEN 2 * SUM((h >> {j}) & 1) > COUNT(*) "
               f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
               for j in range(SIMHASH_BITS)
           )}) AS simhash
    FROM wh GROUP BY doc_id
),
buckets AS (
    SELECT k, (simhash >> (k * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS chunk,
           COUNT(*) AS n
    FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {BANDS - 1})) AS k)
    GROUP BY k, chunk
)
SELECT CAST(k AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(n) AS BIGINT) AS max_bucket,
       CAST(COALESCE(SUM(n) FILTER (WHERE n > {SIMHASH_BUCKET_CAP}), 0) AS BIGINT)
         AS n_dropped_docs
FROM buckets GROUP BY k ORDER BY k
""",
)
def profile_simhash_buckets(spark, sf_dir):
    sig = _simhash_sig(spark, sf_dir)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    ks = sig.sparkSession.range(BANDS).select(F.col("id").cast("int").alias("k"))
    buckets = (
        sig.crossJoin(F.broadcast(ks))
        .select("k", F.expr(f"(simhash >> (k * {SIMHASH_BAND_BITS})) & {mask}").alias("chunk"))
        .groupBy("k", "chunk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        buckets.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.coalesce(
                F.sum(F.when(F.col("n") > SIMHASH_BUCKET_CAP, F.col("n"))), F.lit(0)
            ).alias("n_dropped_docs"),
        )
        .orderBy("k")
    )


@register(
    "dedup_minhash_error_audit",
    doc="Sketch-error audit for the MinHash family: every LSH-surfaced "
    "near-dup pair gets its TRUE shingle Jaccard (intersection over "
    "union, exact integers) next to the 16-hash estimate, with the "
    "signed error in floor basis points — the calibration check run "
    "before trusting est_jaccard thresholds at corpus scale. The exact "
    "recount is bounded by the candidate-pair set (never all-pairs): "
    "pair list joins the shingle index twice on the doc key, "
    "intersection counted on the (s, d2) co-join. Shares the persisted "
    "signature/pair frames with the rest of the dedup family.",
    oracle=f"""
WITH {_SQL_PAIR_CTES},
sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS n_inter
    FROM cand c
    JOIN sh a ON a.doc_id = c.d1
    JOIN sh b ON b.doc_id = c.d2 AND b.s = a.s
    GROUP BY c.d1, c.d2
),
pairs AS (
    SELECT s.d1, s.d2, CAST(s.matches AS BIGINT) AS matches,
           COALESCE(i.n_inter, 0) AS n_inter,
           z1.n + z2.n - COALESCE(i.n_inter, 0) AS n_union
    FROM sim s
    LEFT JOIN inter i ON i.d1 = s.d1 AND i.d2 = s.d2
    JOIN sizes z1 ON z1.doc_id = s.d1
    JOIN sizes z2 ON z2.doc_id = s.d2
    WHERE s.matches * 2 >= {N_HASHES}
)
SELECT d1, d2, matches, n_inter, n_union,
       (10000 * matches) // {N_HASHES} AS est_bp,
       (10000 * n_inter) // n_union AS exact_bp,
       (10000 * matches) // {N_HASHES} - (10000 * n_inter) // n_union AS err_bp
FROM pairs
ORDER BY d1, d2
""",
)
def dedup_minhash_error_audit(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint

    pairs = _lsh_pairs(spark, sf_dir)
    # shared raw index: the true-Jaccard recount joins on xxhash64
    # shingle fingerprints (same equality classes barring collision —
    # see _raw_shingle_index) instead of re-shingling the corpus
    sh = _raw_shingle_index(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(bigint(F.count(F.lit(1))).alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("bd2"), F.col("s").alias("s2"))
    inter = (
        pairs.join(a, "d1")
        .join(b, (F.col("d2") == F.col("bd2")) & (F.col("s") == F.col("s2")))
        .groupBy("d1", "d2")
        .agg(bigint(F.count(F.lit(1))).alias("n_inter"))
    )
    z1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    z2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    out = (
        pairs.join(inter, ["d1", "d2"], "left")
        .join(z1, "d1")
        .join(z2, "d2")
        .select(
            "d1",
            "d2",
            bigint(F.col("matches")).alias("matches"),
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (F.col("n1") + F.col("n2") - F.coalesce("n_inter", F.lit(0))).alias(
                "n_union"
            ),
        )
    )
    est = _intdiv(F.lit(10000) * F.col("matches"), F.lit(N_HASHES))
    exact = _intdiv(F.lit(10000) * F.col("n_inter"), F.col("n_union"))
    return out.select(
        "d1",
        "d2",
        "matches",
        "n_inter",
        "n_union",
        est.alias("est_bp"),
        exact.alias("exact_bp"),
        (est - exact).alias("err_bp"),
    ).orderBy("d1", "d2")


CONTAIN_BP = 6000  # containment threshold: |∩| ≥ 0.6·min(|A|,|B|)


@register(
    "dedup_containment_ngram",
    doc="Containment near-dup pairs (RefinedWeb-style subset detection): "
    "containment |∩| / min(|A|,|B|) finds a small doc embedded in a big "
    "one — exactly the pairs symmetric Jaccard under-scores (a 10:1 "
    "size ratio caps Jaccard at ~0.1 however perfect the overlap). "
    "Same DF-capped shingle inverted index and candidate join as "
    "dedup_ngram_jaccard (candidates stay bounded at 100 TB); both "
    "metrics in exact floor basis points; subset_only flags the pairs "
    "a Jaccard threshold would have missed.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
common AS (SELECT s FROM sh GROUP BY s
           HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {SHINGLE_DF_FRAC}),
sh2 AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM common)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh2 GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
    FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
m AS (
    SELECT p.d1, p.d2, p.inter,
           LEAST(sa.n, sb.n) AS n_small,
           (10000 * p.inter) // LEAST(sa.n, sb.n) AS containment_bp,
           (10000 * p.inter) // (sa.n + sb.n - p.inter) AS jaccard_bp
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.d1
    JOIN sizes sb ON sb.doc_id = p.d2
)
SELECT d1, d2, inter, n_small, containment_bp, jaccard_bp,
       CAST(CASE WHEN jaccard_bp < 5000 THEN 1 ELSE 0 END AS BIGINT) AS subset_only
FROM m WHERE containment_bp >= {CONTAIN_BP}
ORDER BY d1, d2
""",
)
def dedup_containment_ngram(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    n_small = F.least("na", "nb")
    contain = _intdiv(F.lit(10000) * F.col("inter"), n_small)
    jac = _intdiv(
        F.lit(10000) * F.col("inter"), F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        _shingle_overlap_pairs(spark, sf_dir)
        .select(
            "d1",
            "d2",
            "inter",
            n_small.alias("n_small"),
            contain.alias("containment_bp"),
            jac.alias("jaccard_bp"),
        )
        .filter(F.col("containment_bp") >= CONTAIN_BP)
        .select(
            "*",
            F.when(F.col("jaccard_bp") < 5000, 1).otherwise(0).cast("long").alias("subset_only"),
        )
        .orderBy("d1", "d2")
    )


@register(
    "dedup_corpus_report",
    doc="Corpus dedup dashboard — every flavor's headline number in ONE "
    "frame: total docs, exact-dup docs (md5 fingerprints), MinHash-LSH "
    "near-dup pairs (est J >= 0.5), shingle-Jaccard pairs (J >= 0.2), "
    "and containment pairs (>= 0.6). Each metric reads the SHARED "
    "persisted index for its family (signatures/pairs, capped shingle "
    "index), so the whole report costs little more than the dearest "
    "single pass — the production shape: one index build per corpus "
    "generation, many consumers. Oracle recomputes all five from the "
    "same CTE definitions.",
    oracle=f"""
WITH {_SQL_PAIR_CTES},
sh AS ({_SQL_SHINGLES}),
common AS (SELECT s FROM sh GROUP BY s
           HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {SHINGLE_DF_FRAC}),
sh2 AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM common)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
jp AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
    FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
jm AS (
    SELECT p.inter, sa.n AS na, sb.n AS nb
    FROM jp p JOIN sizes sa ON sa.doc_id = p.d1
              JOIN sizes sb ON sb.doc_id = p.d2
),
fp AS (
    SELECT COUNT(*) AS n_docs,
           COUNT(*) - COUNT(DISTINCT
               MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))) AS n_exact
    FROM documents
)
SELECT metric, CAST(n AS BIGINT) AS n FROM (
    SELECT 'docs_total' AS metric, (SELECT n_docs FROM fp) AS n
    UNION ALL
    SELECT 'exact_dup_docs', (SELECT n_exact FROM fp)
    UNION ALL
    SELECT 'minhash_pairs',
           (SELECT COUNT(*) FROM sim WHERE matches * 2 >= {N_HASHES})
    UNION ALL
    SELECT 'jaccard_pairs',
           (SELECT COUNT(*) FROM jm WHERE inter * 5 >= na + nb - inter)
    UNION ALL
    SELECT 'containment_pairs',
           (SELECT COUNT(*) FROM jm
            WHERE (10000 * inter) // LEAST(na, nb) >= {CONTAIN_BP})
)
ORDER BY metric
""",
)
def dedup_corpus_report(spark, sf_dir):

    d = t(spark, sf_dir, "documents")
    fp = d.select(
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("f")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("f")).alias("n_exact"),
    )
    mh = _lsh_pairs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_mh"))
    jp = _shingle_overlap_pairs(spark, sf_dir)
    uni = F.col("na") + F.col("nb") - F.col("inter")
    # coalesce: on a corpus with no shingle-sharing docs jp is empty and
    # SUM returns NULL, while the oracle's COUNT(*) subqueries return 0
    jagg = jp.agg(
        F.coalesce(
            F.sum(F.when(F.col("inter") * 5 >= uni, 1).otherwise(0)), F.lit(0)
        ).alias("n_j"),
        F.coalesce(
            F.sum(
                F.when(
                    F.lit(10000) * F.col("inter")
                    >= CONTAIN_BP * F.least("na", "nb"),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_c"),
    )
    row = fp.crossJoin(F.broadcast(mh)).crossJoin(F.broadcast(jagg)).collect()[0]
    vals = [
        ("containment_pairs", row["n_c"]),
        ("docs_total", row["n_docs"]),
        ("exact_dup_docs", row["n_exact"]),
        ("jaccard_pairs", row["n_j"]),
        ("minhash_pairs", row["n_mh"]),
    ]
    return spark.createDataFrame(
        [(m, int(v) if v is not None else None) for m, v in vals],
        "metric string, n long",
    ).orderBy("metric")


# LSH band/row configurations for the tuning table: all factorizations
# of the 16-hash signature with >= 2 rows per band.
_BAND_CONFIGS = [(2, 8), (4, 4), (8, 2)]


def _sql_band_config(bands: int, rows: int) -> str:
    """Candidate/kept counts for one (bands, rows) factorization of the
    shared 16-hash signature — mirrors the Spark banding exactly."""
    band_hash = " || ',' || ".join(
        "CASE band "
        + " ".join(
            f"WHEN {b} THEN CAST(h{b * rows + r} AS VARCHAR)" for b in range(bands)
        )
        + " END"
        for r in range(rows)
    )
    return f"""
    SELECT 'bands={bands},rows={rows}' AS config,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(CASE WHEN matches * 2 >= {N_HASHES}
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
           CAST(COALESCE((10000 * SUM(CASE WHEN matches * 2 >= {N_HASHES}
                                           THEN 1 ELSE 0 END))
                         // NULLIF(COUNT(*), 0), 0) AS BIGINT) AS precision_bp
    FROM (
        SELECT c.d1, c.d2,
               ({" + ".join(
                   f"CASE WHEN x.h{k} = y.h{k} THEN 1 ELSE 0 END"
                   for k in range(N_HASHES)
               )}) AS matches
        FROM (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM (SELECT doc_id, band, MD5({band_hash}) AS bh
                  FROM sig CROSS JOIN
                       (SELECT UNNEST(GENERATE_SERIES(0, {bands - 1})) AS band)) a
            JOIN (SELECT doc_id, band, MD5({band_hash}) AS bh
                  FROM sig CROSS JOIN
                       (SELECT UNNEST(GENERATE_SERIES(0, {bands - 1})) AS band)) b
              ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        ) c
        JOIN sig x ON x.doc_id = c.d1
        JOIN sig y ON y.doc_id = c.d2
    )"""


@register(
    "dedup_minhash_band_tuning",
    doc="LSH S-curve tuning table: the SAME persisted 16-hash signature "
    "index banded three ways (2x8 / 4x4 / 8x2), reporting candidate "
    "volume, kept pairs (est J >= 0.5 — banding-independent), and "
    "precision in floor bp per configuration — the measurement every "
    "LSH deployment runs before picking its bands (more bands = higher "
    "recall, more candidates). Signatures are computed once (shared "
    "cache); each config adds only a band-key self-join over them — at "
    "100 TB this is the cheap way to A/B blocking configs without "
    "re-sketching the corpus.",
    oracle=f"""
WITH sig AS MATERIALIZED ({_SQL_SIGNATURES})
{" UNION ALL ".join(_sql_band_config(b, r) for b, r in _BAND_CONFIGS)}
ORDER BY config
""",
)
def dedup_minhash_band_tuning(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    sig = _signatures(spark, sf_dir)
    # One scoring pass for all three band configs (round 12): the old
    # shape ran per config a candidate self-join PLUS two signature
    # joins and a global aggregate — 3x(3 joins + 1 agg). Candidates
    # are now tagged with their config and unioned, so the (cheap,
    # candidate-bounded) signature attach and the match aggregate run
    # ONCE over the union (guide §2.4/§3.1); only the per-config
    # band-key self-joins remain separate, as they must (each bands the
    # signature differently). A static 3-row config spine left-joins the
    # counts so a config with zero candidates still reports 0s exactly
    # like the old global-aggregate form.
    cands = []
    for bands, rows in _BAND_CONFIGS:
        ks = sig.sparkSession.range(bands).select(F.col("id").cast("int").alias("band"))
        banded = sig.crossJoin(F.broadcast(ks)).select(
            "doc_id",
            "band",
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.coalesce(
                            *[
                                F.when(
                                    F.col("band") == b,
                                    F.col(f"h{b * rows + r}").cast("string"),
                                )
                                for b in range(bands)
                            ]
                        )
                        for r in range(rows)
                    ],
                )
            ).alias("bh"),
        )
        a, b_ = banded.alias("a"), banded.alias("b")
        cands.append(
            a.join(
                b_,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .distinct()
            .select(F.lit(f"bands={bands},rows={rows}").alias("config"), "d1", "d2")
        )
    allc = cands[0]
    for c in cands[1:]:
        allc = allc.unionByName(c)
    x = sig.select(F.col("doc_id").alias("d1"), *[F.col(f"h{k}").alias(f"x{k}") for k in range(N_HASHES)])
    y = sig.select(F.col("doc_id").alias("d2"), *[F.col(f"h{k}").alias(f"y{k}") for k in range(N_HASHES)])
    matches = sum(
        F.when(F.col(f"x{k}") == F.col(f"y{k}"), 1).otherwise(0)
        for k in range(N_HASHES)
    )
    counts = (
        allc.join(x, "d1")
        .join(y, "d2")
        .select("config", matches.alias("matches"))
        .groupBy("config")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("matches") * 2 >= N_HASHES, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )
    spine = spark.createDataFrame(
        [(f"bands={b},rows={r}",) for b, r in _BAND_CONFIGS], "config string"
    )
    return (
        spine.join(counts, "config", "left")
        .select(
            "config",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.when(
                F.coalesce("n_candidates", F.lit(0)) > 0,
                _intdiv(
                    F.lit(10000) * F.coalesce("n_kept", F.lit(0)),
                    F.coalesce("n_candidates", F.lit(1)),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("precision_bp"),
        )
        .orderBy("config")
    )


@register(
    "dedup_lsh_recall_audit",
    doc="LSH recall audit — the honest complement of "
    "dedup_minhash_error_audit: ground-truth near-dup pairs (true "
    "Jaccard >= 0.5 over the DF-capped shingle index, exact integer "
    "test inter*2 >= union) compared against the pairs the full LSH "
    "pipeline KEPT (band-surfaced candidates whose signature estimate "
    "passes matches*2 >= N_HASHES — so this is end-to-end pipeline "
    "recall, banding + estimate threshold together, not band recall "
    "alone), reporting found/kept counts and recall in floor bp. "
    "Both inputs read shared persisted indices (shingles, LSH pairs) — "
    "the audit adds one candidate-bounded join, no re-sketching. This "
    "is the calibration number that justifies trusting the bands at "
    "100 TB, where the brute-force ground truth can only be sampled.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
common AS (SELECT s FROM sh GROUP BY s
           HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {SHINGLE_DF_FRAC}),
sh2 AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM common)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
exact AS (
    SELECT p.d1, p.d2
    FROM (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ) p
    JOIN sizes sa ON sa.doc_id = p.d1
    JOIN sizes sb ON sb.doc_id = p.d2
    WHERE p.inter * 2 >= (sa.n + sb.n - p.inter)
),
{_SQL_PAIR_CTES},
lsh AS (SELECT d1, d2 FROM sim WHERE matches * 2 >= {N_HASHES})
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_true_pairs,
       CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh_kept,
       CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
             ON e.d1 = l.d1 AND e.d2 = l.d2) AS BIGINT) AS n_found,
       CAST(COALESCE((10000 * (SELECT COUNT(*) FROM exact e JOIN lsh l
                               ON e.d1 = l.d1 AND e.d2 = l.d2))
                     // NULLIF((SELECT COUNT(*) FROM exact), 0), 0) AS BIGINT)
           AS recall_bp
""",
)
def dedup_lsh_recall_audit(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    exact = (
        _shingle_overlap_pairs(spark, sf_dir)
        .filter(F.col("inter") * 2 >= F.col("na") + F.col("nb") - F.col("inter"))
        .select("d1", "d2")
    )
    lsh = _lsh_pairs(spark, sf_dir).select("d1", "d2")
    found = exact.join(lsh, ["d1", "d2"], "left_semi")
    n_true = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    n_lsh = lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh_kept"))
    n_found = found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    return (
        n_true.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(n_found))
        .select(
            "n_true_pairs",
            "n_lsh_kept",
            "n_found",
            F.when(
                F.col("n_true_pairs") > 0,
                _intdiv(F.lit(10000) * F.col("n_found"), F.col("n_true_pairs")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("recall_bp"),
        )
    )


@register(
    "profile_shingle_df",
    doc="Document-frequency audit of the shingle index — the "
    f"observability query for the SHINGLE_DF_FRAC={SHINGLE_DF_FRAC} "
    "admission cap (every declared cap here ships an audit: simhash "
    "buckets, overlap buckets, graph degree — this one covers the "
    "stop-shingle drop that bounds the Jaccard/containment joins). "
    "Reports distinct shingles, postings, how many shingles the DF cap "
    "classifies as common, the postings they account for, and the drop "
    "share in floor bp. One explode + two combinable aggregates; the "
    "audit costs one pass over the index it audits.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
cnt AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COALESCE(SUM(df), 0) AS BIGINT) AS n_postings,
           CAST(COALESCE(SUM(CASE WHEN df > nd.n_docs * {SHINGLE_DF_FRAC}
                                  THEN 1 END), 0) AS BIGINT) AS n_common,
           CAST(COALESCE(SUM(CASE WHEN df > nd.n_docs * {SHINGLE_DF_FRAC}
                                  THEN df END), 0) AS BIGINT) AS postings_dropped
    FROM cnt, nd
)
SELECT (SELECT n_docs FROM nd) AS n_docs, n_shingles, n_postings, n_common,
       postings_dropped,
       CAST(COALESCE((10000 * postings_dropped) // NULLIF(n_postings, 0), 0)
            AS BIGINT) AS drop_bp
FROM agg
""",
)
def profile_shingle_df(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    d = t(spark, sf_dir, "documents")
    # shared raw index (xxhash64 fingerprints — same DF classes barring
    # collision, see _raw_shingle_index): the audit costs one pass over
    # the index it audits instead of re-shingling the corpus
    sh = _raw_shingle_index(spark, sf_dir)
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    cnt = sh.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    common = F.col("df") > F.col("n_docs") * SHINGLE_DF_FRAC
    agg = (
        cnt.crossJoin(F.broadcast(nd))
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.coalesce(F.sum("df"), F.lit(0)).cast("long").alias("n_postings"),
            F.coalesce(F.sum(F.when(common, 1)), F.lit(0)).cast("long").alias("n_common"),
            F.coalesce(F.sum(F.when(common, F.col("df"))), F.lit(0))
            .cast("long")
            .alias("postings_dropped"),
        )
    )
    # empty corpus: the aggregate over zero shingle rows still needs the
    # n_docs scalar — recover it with a coalesce against the direct count
    return agg.crossJoin(F.broadcast(nd.select(F.col("n_docs").alias("_nd")))).select(
        F.coalesce("n_docs", F.col("_nd")).cast("long").alias("n_docs"),
        "n_shingles",
        "n_postings",
        "n_common",
        "postings_dropped",
        F.when(
            F.col("n_postings") > 0,
            _intdiv(F.lit(10000) * F.col("postings_dropped"), F.col("n_postings")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("drop_bp"),
    )


@register(
    "dedup_minhash_1bit",
    doc="b-bit MinHash (b=1, Li & Konig 2010): each of the 16 minhash "
    "values keeps only its lowest bit, shrinking the stored signature "
    "16x (64 us-bits -> 16 bits per doc) at the cost of estimator "
    "variance. Unbiased estimate: E[bit agreement] = (1+J)/2, so "
    "J_1bit = 2*A/H - 1, floored at 0. The query scores the SHARED "
    "LSH candidate pairs (amortized: reuses the shared LSH pair and "
    "signature spines) "
    "with both the full-signature estimate and the 1-bit estimate in "
    "exact integer basis points (matches*625 and (2A-16)*625), so "
    "the compression error is directly observable per pair. At 100 "
    "TB, 1-bit signatures are what makes an in-memory dedup index of "
    "10^11 docs feasible; candidate generation still uses the full "
    "banded LSH (bucketed, never all-pairs).",
    oracle=f"""
WITH {_SQL_PAIR_CTES},
kept AS (SELECT d1, d2, matches FROM sim WHERE matches * 2 >= {N_HASHES}),
bits AS (
    SELECT k.d1, k.d2, k.matches,
           ({" + ".join(
               f"CASE WHEN x.h{k} % 2 = y.h{k} % 2 THEN 1 ELSE 0 END"
               for k in range(N_HASHES)
           )}) AS bit_agree
    FROM kept k
    JOIN sig x ON x.doc_id = k.d1
    JOIN sig y ON y.doc_id = k.d2
)
SELECT d1, d2,
       CAST(matches AS BIGINT) AS matches,
       CAST(bit_agree AS BIGINT) AS bit_agree,
       CAST(matches * 625 AS BIGINT) AS est_full_bp,
       CAST(GREATEST(0, (2 * bit_agree - {N_HASHES}) * 625) AS BIGINT)
           AS est_1bit_bp
FROM bits
ORDER BY d1, d2
""",
)
def dedup_minhash_1bit(spark, sf_dir):
    pairs = _lsh_pairs(spark, sf_dir)
    sig = _signatures(spark, sf_dir)
    x = sig.select(
        F.col("doc_id").alias("d1"),
        *[(F.col(f"h{k}") % 2).alias(f"bx{k}") for k in range(N_HASHES)],
    )
    y = sig.select(
        F.col("doc_id").alias("d2"),
        *[(F.col(f"h{k}") % 2).alias(f"by{k}") for k in range(N_HASHES)],
    )
    bit_agree = sum(
        F.when(F.col(f"bx{k}") == F.col(f"by{k}"), 1).otherwise(0)
        for k in range(N_HASHES)
    )
    return (
        pairs.join(x, "d1")
        .join(y, "d2")
        .select("d1", "d2", "matches", bit_agree.alias("bit_agree"))
        .select(
            "d1",
            "d2",
            F.col("matches").cast("long").alias("matches"),
            F.col("bit_agree").cast("long").alias("bit_agree"),
            (F.col("matches") * 625).cast("long").alias("est_full_bp"),
            F.greatest(
                F.lit(0), (2 * F.col("bit_agree") - N_HASHES) * 625
            )
            .cast("long")
            .alias("est_1bit_bp"),
        )
        .orderBy("d1", "d2")
    )


PPM = 1_000_000


@register(
    "dedup_cross_source_matrix",
    doc="Cross-source contamination matrix from the shared MinHash+LSH "
    "near-dup pair frame (16 hashes, 4x4 bands, agreement >= 1/2 — "
    "dedup_minhash_lsh's exact candidates): pairs roll up to the "
    "unordered (source_a <= source_b) cell with the duplication rate "
    "in exact pairs-per-million of the cell's pair space (n_a*n_b "
    "cross, n(n-1)/2 within) — the read-before-you-weight diagnostic "
    "for mixture construction. Pair frame is persisted and shared; "
    "this adds two broadcast source-projection joins and one groupBy.",
    oracle=f"""
WITH {_SQL_PAIR_CTES},
pairs AS (SELECT d1, d2 FROM sim WHERE matches * 2 >= {N_HASHES}),
src AS (SELECT doc_id, source FROM documents),
cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM src GROUP BY 1),
cells AS (
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM pairs p
    JOIN src sa ON sa.doc_id = p.d1
    JOIN src sb ON sb.doc_id = p.d2
    GROUP BY 1, 2
)
SELECT c.source_a, c.source_b, c.n_dup_pairs,
       CAST(CASE WHEN c.source_a = c.source_b
                 THEN CASE WHEN na.n <= 1 THEN 0
                      ELSE (c.n_dup_pairs * {PPM} * 2) // (na.n * (na.n - 1))
                      END
                 ELSE (c.n_dup_pairs * {PPM}) // (na.n * nb.n)
            END AS BIGINT) AS dup_rate_ppm
FROM cells c
JOIN cnt na ON na.source = c.source_a
JOIN cnt nb ON nb.source = c.source_b
ORDER BY c.source_a, c.source_b
""",
)
def dedup_cross_source_matrix(spark, sf_dir):
    pairs = _lsh_pairs(spark, sf_dir).select("d1", "d2")
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    cnt = src.groupBy("source").agg(bigint(F.count(F.lit(1))).alias("n"))
    sa = src.select(F.col("doc_id").alias("d1"), F.col("source").alias("s1"))
    sb = src.select(F.col("doc_id").alias("d2"), F.col("source").alias("s2"))
    cells = (
        pairs.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .groupBy(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
        .agg(bigint(F.count(F.lit(1))).alias("n_dup_pairs"))
    )
    na = cnt.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    nb = cnt.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        cells.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_dup_pairs",
            F.expr(
                f"CAST(CASE WHEN source_a = source_b"
                f" THEN CASE WHEN na <= 1 THEN 0"
                f"      ELSE (n_dup_pairs * {PPM} * 2) DIV (na * (na - 1)) END"
                f" ELSE (n_dup_pairs * {PPM}) DIV (na * nb)"
                f" END AS BIGINT)"
            ).alias("dup_rate_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


W_MICRO = 1_000_000


@register(
    "dedup_soft_weighting",
    doc="Soft dedup: instead of DROPPING near-duplicates, every doc in "
    "an LSH near-dup cluster is down-weighted to 1e6 DIV cluster_size "
    "micro (singletons keep 1e6) — the 'count each duplicated passage "
    "once in expectation' policy some corpora prefer over hard "
    "removal. Per source: clustered-doc count, raw vs effective "
    "whitespace-token mass, and the retention share in truncated bp. "
    "Reuses the shared persisted LSH pair frame + CC labels; the "
    "oracle walks the same recursive-CTE transitive closure.",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIR_CTES},
pairs AS (SELECT d1, d2 FROM sim WHERE matches * 2 >= {N_HASHES}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
reach(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (
    SELECT src AS node, LEAST(src, MIN(dst)) AS comp
    FROM reach GROUP BY src
),
csize AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM comp GROUP BY 1),
dw AS (
    SELECT d.source,
           CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS tok,
           CASE WHEN c.node IS NULL THEN CAST({W_MICRO} AS BIGINT)
                ELSE {W_MICRO} // s.sz END AS w,
           CASE WHEN c.node IS NULL THEN 0 ELSE 1 END AS clustered
    FROM documents d
    LEFT JOIN comp c ON c.node = d.doc_id
    LEFT JOIN csize s ON s.comp = c.comp
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(clustered) AS BIGINT) AS n_clustered,
       CAST(SUM(tok) AS BIGINT) AS raw_tokens,
       CAST(SUM(tok * w) // {W_MICRO} AS BIGINT) AS eff_tokens,
       CAST(CASE WHEN SUM(tok) = 0 THEN 0
                 ELSE SUM(tok * w) // (SUM(tok) * 100) END AS BIGINT)
           AS retention_bp
FROM dw
GROUP BY source
ORDER BY source
""",
)
def dedup_soft_weighting(spark, sf_dir):

    labels = _cc_label_frame(spark, sf_dir)
    csize = labels.groupBy("comp").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    lbl = labels.join(csize, "comp").select(
        F.col("node").alias("doc_id"), "sz"
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("tok"),
    )
    dw = docs.join(F.broadcast(lbl), "doc_id", "left").select(
        "source",
        "tok",
        F.when(F.col("sz").isNull(), F.lit(W_MICRO).cast("long"))
        .otherwise(F.expr(f"{W_MICRO} DIV sz"))
        .alias("w"),
        F.when(F.col("sz").isNull(), 0).otherwise(1).alias("clustered"),
    )
    return (
        dw.groupBy("source")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_docs"),
            bigint(F.sum("clustered")).alias("n_clustered"),
            bigint(F.sum("tok")).alias("raw_tokens"),
            F.expr(f"CAST(SUM(tok * w) DIV {W_MICRO} AS BIGINT)").alias(
                "eff_tokens"
            ),
            F.expr(
                "CAST(CASE WHEN SUM(tok) = 0 THEN 0"
                " ELSE SUM(tok * w) DIV (SUM(tok) * 100) END AS BIGINT)"
            ).alias("retention_bp"),
        )
        .orderBy("source")
    )
