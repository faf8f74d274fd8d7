"""Round-8 operator tests — engine-side invariants the DuckDB oracle
cannot see (decoder environment-independence, CC convergence flags,
JDBC partition-boundary arithmetic, LSH-blocked semantic dedup)."""

from __future__ import annotations

import sys
import types

import pytest

from cascade_spark.plans.registry import load_all


def test_decode_stub_ignores_installed_pil(monkeypatch):
    """decode_image_stub must return the deterministic oracle-matched
    fake even in a container WHERE Pillow IS importable — the round-7
    verdict found the probe inverted (raised when PIL import
    succeeded)."""
    from cascade_spark.operators import multimodal

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.ModuleType("PIL.Image")
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil.Image)

    blob = b"round-8 pil inversion probe"
    w, h, nf, status = multimodal.decode_image_stub(blob)
    import hashlib

    md5 = hashlib.md5(blob).hexdigest()
    assert w == int(md5[0:4], 16) % 1920
    assert h == int(md5[4:8], 16) % 1080
    assert nf == int(md5[8:10], 16) % 16 + 1
    assert status == "fake-decoded"


def test_multimodal_decode_green_with_fake_pil(spark, sf_dir, monkeypatch):
    """End-to-end: the registered query stays green with a fake PIL
    visible to the driver (executors run the stub, which no longer
    probes for PIL at all)."""
    fake_pil = types.ModuleType("PIL")
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    rows = load_all()["multimodal_decode"].builder(spark, sf_dir).limit(5).collect()
    assert rows and all(r["status"] == "fake-decoded" for r in rows)


def _path_graph(spark, n):
    """Undirected path 0-1-2-...-n-1 as the (src, nbr) edge frame +
    identity labels, the shape _cc_labels_distributed consumes."""
    from pyspark.sql import functions as F

    pairs = spark.range(n - 1).select(
        F.col("id").alias("d1"), (F.col("id") + 1).alias("d2")
    )
    fwd = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("nbr"))
    rev = pairs.select(F.col("d2").alias("src"), F.col("d1").alias("nbr"))
    edges = fwd.union(rev)
    labels = (
        edges.select("src").distinct()
        .select(F.col("src").alias("node"))
        .withColumn("comp", F.col("node"))
    )
    return edges, labels


def test_cc_distributed_raises_past_iteration_cap(spark):
    """A path graph with diameter > cap must RAISE, not silently return
    unconverged (wrong) labels — the round-7 verdict's silent-cap item.
    Exercises the distributed min-label branch directly."""
    from cascade_spark.operators.dedup import _cc_labels_distributed

    edges, labels = _path_graph(spark, 10)  # diameter 9 > cap 4
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_labels_distributed(edges, labels, max_iters=4)


def test_cc_distributed_converges_and_matches_local(spark):
    """Distributed min-label propagation on a >cap-safe path graph
    agrees with the driver-side union-find on every node label."""
    from cascade_spark.operators.dedup import _cc_local, _cc_labels_distributed

    n = 9
    edges, labels = _path_graph(spark, n)
    got = {
        r["node"]: r["comp"]
        for r in _cc_labels_distributed(edges, labels, max_iters=n + 2).collect()
    }
    want = dict(_cc_local([(i, i + 1) for i in range(n - 1)]))
    assert got == want == {i: 0 for i in range(n)}


# --- Banded sign-LSH blocking (round-8 rework of the embedding-dedup
# pair: label block -> bucket block) --------------------------------


def test_lsh_candidate_space_is_capped(spark, sf_dir):
    """The bucket join must generate a strict subset of the pair space —
    the whole point of replacing the label block. At the fixture's
    near-random embeddings the 8x6 banded code keeps candidates well
    under 20% of n(n-1)/2."""
    from cascade_spark.operators.similarity import _lsh_candidate_pairs
    from cascade_spark.tables import load

    n = load(spark, sf_dir, "embeddings").count()
    cand = _lsh_candidate_pairs(spark, sf_dir)
    n_cand = cand.count()
    assert 0 < n_cand < 0.2 * n * (n - 1) / 2
    # pair key discipline: v1 < v2, no duplicates
    assert cand.filter("v1 >= v2").count() == 0
    assert cand.select("v1", "v2").distinct().count() == n_cand


def test_lsh_recall_floor_at_dedup_threshold(spark, sf_dir):
    """Deterministic recall of the banded LSH candidate set against the
    brute-force truth at the semantic-dedup threshold (cos >= 0.4).
    The fixture's max cosine is ~0.48 — the far tail of the banded-LSH
    curve (1-(1-p^6)^8 with p = 1-acos(c)/pi gives ~0.46 at c=0.45 and
    ~0.98 at the c=0.9 true-duplicate regime this blocks for). The md5
    planes make the measurement exact, not flaky: assert the observed
    floor with headroom."""
    import duckdb

    from cascade_spark.operators.similarity import _lsh_candidate_pairs

    got = {(r["v1"], r["v2"]) for r in _lsh_candidate_pairs(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    truth = con.execute(
        """
WITH pairs AS (SELECT a.vec_id v1, b.vec_id v2, a.embedding ea, b.embedding eb
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT v1, v2 FROM pairs,
     LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ea))) AS i)
GROUP BY v1, v2
HAVING SUM(CAST(ea[i] AS DOUBLE)*CAST(eb[i] AS DOUBLE))
       / (SQRT(SUM(CAST(ea[i] AS DOUBLE)*CAST(ea[i] AS DOUBLE)))
          * SQRT(SUM(CAST(eb[i] AS DOUBLE)*CAST(eb[i] AS DOUBLE)))) >= 0.4
"""
    ).fetchall()
    t_set = {(v1, v2) for v1, v2 in truth}
    assert t_set, "fixture should have cos>=0.4 pairs"
    recall = len(t_set & got) / len(t_set)
    assert recall >= 0.35, f"banded-LSH recall collapsed: {recall:.3f}"


def test_avro_roundtrip_registration_follows_probe(spark):
    """scan_avro_roundtrip registers exactly where the spark-avro
    DATASOURCE jar exists (this container ships core avro jars but not
    the datasource — the probe documents that). Where present, the
    query must also be green end-to-end."""
    from cascade_spark.sources.lakehouse import lakehouse_probe

    probe = lakehouse_probe()
    if not probe["avro"]:
        assert "scan_avro_roundtrip" not in load_all()
        pytest.skip("spark-avro datasource jar absent in this container")
    q = load_all()["scan_avro_roundtrip"]
    rows = q.builder(spark, "/root/testdata/sf0.001").collect()
    assert rows and rows[0]["n_nationkey"] == 0


@pytest.mark.parametrize("n_parts", [3, 5])
def test_jdbc_partition_bounds_cover_exactly_once(spark, sf_dir, n_parts):
    """Property: Spark's JDBC range partitioning (lowerBound/upperBound/
    numPartitions) must read every Derby row exactly once at any
    partition count — the classic boundary off-by-one class. Ground
    truth is the o_orderkey % 7 = 0 staging subset; per-partition counts
    must sum to it with no overlap (sum == distinct count == truth)."""
    from cascade_spark.operators._util import t as _t
    from cascade_spark.sources.lakehouse import jdbc_orders_url, read_jdbc
    from pyspark.sql import functions as F

    url = jdbc_orders_url(spark, sf_dir)
    truth = _t(spark, sf_dir, "orders").filter("o_orderkey % 7 = 0")
    n_truth = truth.count()
    hi = truth.agg(F.max("o_orderkey")).collect()[0][0]
    back = read_jdbc(
        spark,
        url,
        "ORDERS_RT",
        partitionColumn="o_orderkey",
        lowerBound=1,
        upperBound=int(hi) + 1,
        numPartitions=n_parts,
    )
    assert back.rdd.getNumPartitions() == n_parts
    per_part = back.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert sum(per_part) == n_truth
    assert back.select("o_orderkey").distinct().count() == n_truth


def test_lsh_blocking_plans_equi_join_not_allpairs(spark, sf_dir):
    """The whole point of the round-8 re-block: the candidate generator
    must plan a HASH equi-join on the (band, code) bucket key — never a
    cartesian/nested-loop pair enumeration. Checked on the end-to-end
    plans of both rewritten queries."""
    from cascade_spark import store

    store.drop("similarity.emb_pairs")  # plan the build path, not the cached frame
    for name in ("embedding_neardup_blocked", "similarity_semantic_dedup"):
        df = load_all()[name].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        store.drop("similarity.emb_pairs")


def test_pca_direction_is_unit_scaled_and_stable(spark, sf_dir):
    """Power-iteration invariants: the returned direction has max |v| ==
    PCA_SCALE (renormalization fixed point) and is invariant to input
    partitioning (integer arithmetic has no accumulation order)."""
    from cascade_spark.operators.vector_agg import PCA_SCALE

    rows = (
        load_all()["embedding_pca_power_iteration"].builder(spark, sf_dir).collect()
    )
    assert len(rows) == 64
    assert max(abs(r["v_scaled"]) for r in rows) == PCA_SCALE


def test_gzip_is_not_splittable_but_plain_csv_is(spark, sf_dir, tmp_path):
    """The scale lesson scan_text_gzip_nonsplittable declares: under a
    tiny maxPartitionBytes, a plain CSV copy of the same data fans out
    into many read partitions while the gzip files stay at one task per
    file (no mid-stream decompressor entry points)."""
    from cascade_spark.sources.scans import gzip_csv_output

    gz = gzip_csv_output(spark, sf_dir)
    schema = "event_id long, user_id long, event_type string"
    plain = str(tmp_path / "plain_csv")
    spark.read.option("header", True).schema(schema).csv(gz).coalesce(
        1
    ).write.option("header", True).csv(plain)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
    try:
        n_gz = (
            spark.read.option("header", True).schema(schema).csv(gz)
        ).rdd.getNumPartitions()
        n_plain = (
            spark.read.option("header", True).schema(schema).csv(plain)
        ).rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert n_gz == 3, f"gzip files must be one task each, got {n_gz}"
    assert n_plain > n_gz, f"plain CSV should split: {n_plain} vs {n_gz}"


def test_lsh_audit_pair_mass_bounds_candidates(spark, sf_dir):
    """profile_lsh_bucket_pairs' per-band pair mass must upper-bound the
    deduped candidate count (a pair can collide in several bands) and
    every band must partition all vectors across its buckets."""
    from cascade_spark.operators.similarity import SD_BANDS, _lsh_candidate_pairs

    rows = load_all()["profile_lsh_bucket_pairs"].builder(spark, sf_dir).collect()
    assert [r["band"] for r in rows] == list(range(SD_BANDS))
    mass = sum(r["cand_pairs"] for r in rows)
    n_cand = _lsh_candidate_pairs(spark, sf_dir).count()
    assert mass >= n_cand > 0


# ---------------------------------------------------------------------------
# round-8 wave 4: estimation stats, passage dedup, matryoshka, RRF, drawdown
# ---------------------------------------------------------------------------


def test_passage_dedup_conserves_and_actually_drops(spark, sf_dir):
    rows = {
        r["doc_id"]: r
        for r in load_all()["pipeline_passage_dedup"].builder(spark, sf_dir).collect()
    }
    assert rows, "fixture produced no documents"
    assert all(0 <= r["n_kept"] <= r["n_passages"] for r in rows.values())
    # the fixture's shared-passage mass must actually remove something
    assert any(r["n_kept"] < r["n_passages"] for r in rows.values())
    # a doc with nothing dropped reassembles to its original text
    import hashlib

    from cascade_spark.operators._util import t

    docs = {
        r["doc_id"]: r["text"] for r in t(spark, sf_dir, "documents").collect()
    }
    intact = [d for d, r in rows.items() if r["n_kept"] == r["n_passages"]]
    assert intact, "expected at least one fully-unique document"
    for d in intact[:5]:
        assert rows[d]["kept_md5"] == hashlib.md5(docs[d].encode()).hexdigest()


def test_matryoshka_energy_monotone_in_k(spark, sf_dir):
    rows = load_all()["embedding_matryoshka_energy"].builder(spark, sf_dir).collect()
    by_label = {}
    for r in rows:
        assert 0 <= r["min_share_bp"] <= r["avg_share_bp"] <= r["max_share_bp"] <= 10000
        by_label.setdefault(r["label"], {})[r["k"]] = r["avg_share_bp"]
    for label, shares in by_label.items():
        ks = sorted(shares)
        assert all(
            shares[a] <= shares[b] for a, b in zip(ks, ks[1:])
        ), f"energy share must grow with prefix length (label {label})"


def test_rrf_score_consistent_with_ranks(spark, sf_dir):
    rows = load_all()["similarity_reciprocal_rank_fusion"].builder(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["rrf_ppb"] == 10**9 // (60 + r["r_sem"]) + 10**9 // (60 + r["r_lex"])
    scores = [r["rrf_ppb"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_max_drawdown_nonnegative_and_bounded_by_peak(spark, sf_dir):
    rows = load_all()["events_max_drawdown"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["drawdown_cents"] >= 0
        # a drawdown can't exceed the peak it fell from (values >= 0
        # in the fixture, so the balance never goes below zero... it
        # can't: every event value is positive, balances only grow)
        assert r["drawdown_cents"] <= max(r["peak_cents"], 0)


def test_capture_recapture_estimate_brackets_truth(spark, sf_dir):
    (r,) = load_all()["stats_capture_recapture"].builder(spark, sf_dir).collect()
    assert r["m"] <= min(r["n1"], r["n2"])
    assert r["chapman_est"] >= max(r["n1"], r["n2"])
    # Chapman is consistent when capture is independent; on the fixture
    # the two windows see almost everyone, so the estimate lands close
    assert abs(r["chapman_est"] - r["n_true"]) <= max(10, r["n_true"] // 5)


def test_good_turing_mass_sums_below_one(spark, sf_dir):
    rows = load_all()["stats_good_turing"].builder(spark, sf_dir).collect()
    assert rows
    assert sum(r["mass_bp"] for r in rows) <= 10000
    for r in rows:
        assert r["n_r"] > 0 and r["r_star_bp"] >= 0


def test_label_propagation_partitions_all_nodes(spark, sf_dir):
    from cascade_spark.operators.graph import _coactivity_edges

    comm = load_all()["graph_label_propagation"].builder(spark, sf_dir).collect()
    e = _coactivity_edges(spark, sf_dir)
    n_nodes = (
        e.selectExpr("ua AS u").union(e.selectExpr("ub AS u")).distinct().count()
    )
    assert sum(r["n_members"] for r in comm) == n_nodes
    assert all(r["n_members"] >= 1 for r in comm)
    # propagation must actually merge: fewer communities than nodes
    assert len(comm) < n_nodes


def test_rake_phrases_are_stopword_free(spark, sf_dir):
    from cascade_spark.operators.text import STOPWORDS

    rows = load_all()["text_rake_keywords"].builder(spark, sf_dir).collect()
    assert len(rows) == 15
    stop = set(STOPWORDS)
    for r in rows:
        words = r["phrase"].split(" ")
        assert words and not (set(words) & stop)
        assert r["n_occurrences"] >= 1 and r["score_bp"] > 0


def test_runs_test_counts_are_coherent(spark, sf_dir):
    rows = load_all()["stats_runs_test"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_above"] + r["n_below"] == r["n_days"]
        assert 1 <= r["n_runs"] <= r["n_days"]
        # E[runs] lives in [1, n_days] (bp-scaled)
        assert 10000 <= r["e_runs_bp"] <= 10000 * r["n_days"]
        assert r["var_runs_bp"] >= 0


def test_streaming_signature_path_matches_batch(spark, sf_dir):
    """The near-dup gate computes MinHash signatures with a map-only
    array-HOF strategy (legal inside a micro-batch); dedup._signatures
    uses posexplode + groupBy(min). The two strategies must agree
    bit-for-bit on every doc, or the gate would disagree with the batch
    dedup pipeline it fronts."""
    from pyspark.sql import functions as F

    from cascade_spark.operators.dedup import _signatures, N_HASHES
    from cascade_spark.streaming.pipeline import _streaming_band_keys
    from cascade_spark.tables import load

    docs = (
        load(spark, sf_dir, "documents")
        .filter("size(split(text, ' ')) >= 3")
        .select("doc_id", "text")
        .limit(200)
    )
    stream_bands = {
        (r["doc_id"], r["band"]): r["bh"]
        for r in _streaming_band_keys(docs).collect()
    }
    # rebuild band hashes from the batch signature frame
    from cascade_spark.operators.dedup import BANDS

    rpb = N_HASHES // BANDS
    sig = _signatures(spark, sf_dir).join(docs.select("doc_id"), "doc_id")
    batch_bands = {}
    for r in sig.collect():
        for b in range(BANDS):
            key = ",".join(str(r[f"h{b * rpb + k}"]) for k in range(rpb))
            import hashlib

            batch_bands[(r["doc_id"], b)] = hashlib.md5(key.encode()).hexdigest()
    assert stream_bands == batch_bands


def test_neardup_gate_flags_have_band_witnesses(spark, sf_dir):
    rows = load_all()["stream_neardup_gate"].builder(spark, sf_dir).collect()
    assert rows and all(r["flagged"] == (r["n_corpus_candidates"] > 0) for r in rows)
    assert all(r["doc_id"] % 5 == 0 for r in rows)


def test_mcnemar_statistic_matches_formula(spark, sf_dir):
    (r,) = load_all()["stats_mcnemar"].builder(spark, sf_dir).collect()
    b, c = r["b"], r["c"]
    assert b >= 0 and c >= 0 and b + c <= r["n"]
    if b + c:
        assert r["chi2_bp"] == (b - c) ** 2 * 10000 // (b + c)
        assert r["chi2_cc_bp"] == (abs(b - c) - 1) ** 2 * 10000 // (b + c)
        assert r["chi2_cc_bp"] <= r["chi2_bp"]
    else:
        assert r["chi2_bp"] == 0 == r["chi2_cc_bp"]


def test_bestfit_packing_invariants_and_beats_sequential(spark, sf_dir):
    """FFD must respect capacity, cover every doc exactly once (token
    conservation), and never use more bins than the naive sequential
    next-fit packing computed here from the same shard inputs."""
    from pyspark.sql import functions as F

    from cascade_spark.operators.curation import BFD_CAP, BFD_SHARDS
    from cascade_spark.tables import load

    rows = {
        r["shard"]: r
        for r in load_all()["pipeline_bestfit_packing"].builder(spark, sf_dir).collect()
    }
    toks = (
        load(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % BFD_SHARDS).alias("shard"),
            F.size(F.split("text", " ")).alias("n_tok"),
            "doc_id",
        )
        .collect()
    )
    by_shard = {}
    for r in toks:
        by_shard.setdefault(r["shard"], []).append((r["n_tok"], r["doc_id"]))
    assert set(rows) == set(by_shard)
    for shard, docs in by_shard.items():
        got = rows[shard]
        total = sum(t for t, _ in docs)
        assert got["n_docs"] == len(docs)
        assert got["total_tokens"] == total  # every doc packed exactly once
        assert got["max_bin_tokens"] <= max(BFD_CAP, max(t for t, _ in docs))
        assert got["lower_bound"] == -(-total // BFD_CAP) <= got["n_bins"]
        # sequential next-fit in doc_id order (the dumbest packer)
        nf_bins, rem = 0, 0
        for t, _ in sorted(docs, key=lambda x: x[1]):
            if t > rem:
                nf_bins += 1
                rem = BFD_CAP
            rem -= t
        assert got["n_bins"] <= nf_bins


def test_burstiness_descending_and_bounded(spark, sf_dir):
    from cascade_spark.tables import load

    rows = load_all()["text_burstiness"].builder(spark, sf_dir).collect()
    assert len(rows) == 15
    d = load(spark, sf_dir, "documents").count()
    vals = [r["vmr_bp"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    for r in rows:
        assert 0 < r["n_docs_present"] <= d
        assert r["total_count"] >= r["n_docs_present"]
        # a word present in every doc with equal counts would have VMR < 1;
        # the top-15 bursty words must all exceed Poisson scatter
        assert r["vmr_bp"] > 10000


def test_cochran_q_components_are_coherent(spark, sf_dir):
    (r,) = load_all()["stats_cochran_q"].builder(spark, sf_dir).collect()
    for c in ("correct_a", "correct_b", "correct_c"):
        assert 0 <= r[c] <= r["n"]
    assert r["q_bp"] >= 0


# --- wave 9: inference_extra ------------------------------------------------


def test_kendall_pairs_partition_the_pair_space(spark, sf_dir):
    (r,) = load_all()["stats_kendall_tau_b"].builder(spark, sf_dir).collect()
    n = r["n_days"]
    assert (
        r["nc"] + r["nd"] + r["ties_x"] + r["ties_y"] + r["ties_both"]
        == n * (n - 1) // 2
    )
    assert -1.0 <= r["tau_b"] <= 1.0


def test_hodges_lehmann_median_within_range(spark, sf_dir):
    (r,) = load_all()["stats_hodges_lehmann"].builder(spark, sf_dir).collect()
    assert r["n_pairs"] > 0
    # doubled median must sit inside the doubled [min, max] envelope
    assert 2 * r["min_diff"] <= r["hl_x2"] <= 2 * r["max_diff"]


def test_mood_median_residuals_sum_to_zero(spark, sf_dir):
    rows = load_all()["stats_mood_median"].builder(spark, sf_dir).collect()
    assert sum(r["d"] for r in rows) == 0
    for r in rows:
        assert 0 <= r["above"] <= r["n_t"]
        assert r["contrib"] >= 0.0


def test_friedman_statistic_nonnegative(spark, sf_dir):
    (r,) = load_all()["stats_friedman"].builder(spark, sf_dir).collect()
    assert r["n1"] >= 0 and r["d1"] >= 0 and r["q_bp"] >= 0
    # tie-corrected Q for k treatments is bounded by n*(k-1) (all-distinct
    # blocks attain it); bp scale
    assert r["q_bp"] <= 10000 * r["n_days"] * (r["n_groups"] - 1)


def test_sign_test_exact_binomial_matches_python(spark, sf_dir):
    from math import comb

    (r,) = load_all()["stats_sign_test"].builder(spark, sf_dir).collect()
    n, m = r["pos"] + r["neg"], min(r["pos"], r["neg"])
    tail = sum(comb(n, i) for i in range(m + 1))
    expect = min(10000, (2 * tail * 10000) // (1 << n)) if n else 10000
    assert r["p2_bp"] == expect


def test_cohens_kappa_bounded_and_consistent(spark, sf_dir):
    from cascade_spark.tables import load

    (r,) = load_all()["stats_cohens_kappa"].builder(spark, sf_dir).collect()
    assert r["a"] + r["b"] + r["c"] + r["d"] == r["n"]
    assert r["n"] == load(spark, sf_dir, "documents").count()
    assert r["kappa_bp"] <= 10000


def test_durbin_watson_in_valid_band(spark, sf_dir):
    rows = load_all()["stats_durbin_watson"].builder(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        # DW lives in [0, 4]; bp scale
        assert 0 <= r["dw_bp"] <= 40000


def test_odds_ratio_cells_cover_the_log(spark, sf_dir):
    from cascade_spark.tables import load

    (r,) = load_all()["stats_odds_ratio"].builder(spark, sf_dir).collect()
    total = load(spark, sf_dir, "events").count()
    assert r["a"] + r["b"] + r["c"] + r["d"] == total
    assert r["odds_ratio_bp"] > 0


# --- wave 10/11: graph_extra / corpus_quality / retrieval_eval / cdc --------


def test_local_clustering_consistent_with_triangle_count(spark, sf_dir):
    (r,) = load_all()["graph_local_clustering"].builder(spark, sf_dir).collect()
    (g,) = load_all()["graph_triangle_count"].builder(spark, sf_dir).collect()
    assert r["n_eligible"] <= r["n_nodes"] == g["n_nodes"]
    assert r["n_closed"] <= r["n_in_triangle"] <= r["n_eligible"]
    assert 0 <= r["mean_cc_bp"] <= r["max_cc_bp"] <= 10000
    # a triangle exists iff some node is in one
    assert (g["n_triangles"] > 0) == (r["n_in_triangle"] > 0)


def test_markov_stationary_mass_conserved_up_to_floor_leak(spark, sf_dir):
    rows = load_all()["events_markov_stationary"].builder(spark, sf_dir).collect()
    total = sum(r["pi_nano"] for r in rows)
    # floor division leaks < |transitions| nano-units per round
    assert 0 < total <= 1_000_000_000
    assert total > 999_000_000
    assert all(r["pi_nano"] > 0 for r in rows)


def test_flesch_components_positive_and_score_bounded(spark, sf_dir):
    rows = load_all()["text_flesch_reading_ease"].builder(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["words"] >= r["sentences"] >= r["n_docs"]
        assert r["syllables"] > 0
        # flesch is formula-bounded above by 206.835
        assert r["flesch_x1000"] <= 206835


def test_quota_sampling_caps_and_conserves(spark, sf_dir):
    rows = load_all()["pipeline_quota_sampling"].builder(spark, sf_dir).collect()
    from cascade_spark.operators.corpus_quality import QUOTA_K

    for r in rows:
        assert r["n_kept"] == min(QUOTA_K, r["n_total"])
        assert r["kept_id_sum"] > 0


def test_retrieval_metrics_consistent_with_recall_audit(spark, sf_dir):
    rows = (
        load_all()["similarity_retrieval_metrics"].builder(spark, sf_dir).collect()
    )
    assert rows, "query subset must be non-empty"
    for r in rows:
        assert 0 <= r["hits_at_10"] <= 10
        assert r["p_at_10_bp"] == 1000 * r["hits_at_10"]
        assert 0 <= r["rr_bp"] <= 10000
        # the true NN can only be found if there are candidates at all
        if r["n_cand"] == 0:
            assert r["rr_bp"] == 0 and r["hits_at_10"] == 0


def test_holt_forecast_tracks_series_scale(spark, sf_dir):
    from cascade_spark.operators.timeseries_extra import HOLT_SCALE
    from cascade_spark.tables import load
    from pyspark.sql import functions as F

    rows = (
        load_all()["events_holt_linear_forecast"].builder(spark, sf_dir).collect()
    )
    assert len(rows) == 5
    mx = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    for r in rows:
        # smoothed level stays within the observed envelope
        assert 0 <= r["level_micro"] <= mx * HOLT_SCALE
        assert r["fc_h1_micro"] == r["level_micro"] + r["trend_micro"]
        assert r["fc_h7_micro"] == r["level_micro"] + 7 * r["trend_micro"]


def test_cdc_chunks_insertion_realignment_property(spark, sf_dir):
    """The reason CDC beats fixed windows: inserting one word near the
    head of a doc must leave chunk hashes after the next boundary
    intact (fixed 8-word chunks would re-key everything downstream)."""
    import hashlib

    def boundaries(words):
        segs, cur = [], []
        for w in words:
            cur.append(w)
            if int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 8 == 0:
                segs.append(cur)
                cur = []
        if cur:
            segs.append(cur)
        return [" ".join(s) for s in segs]

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    orig = boundaries(base)
    edited = boundaries(["INSERTED"] + base)
    # all original chunks except possibly the first survive verbatim
    assert set(orig[1:]).issubset(set(edited))


def test_cdc_chunk_masses_are_coherent(spark, sf_dir):
    rows = load_all()["dedup_cdc_chunks"].builder(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r["dup_chunks"] <= r["n_chunks"]
        assert 0 <= r["dup_words"] <= r["total_words"]


# --- wave 12: BH-FDR / Mantel-Haenszel / garbage / apportionment ------------


def test_bh_fdr_stepup_is_monotone(spark, sf_dir):
    rows = load_all()["stats_bh_fdr"].builder(spark, sf_dir).collect()
    assert len(rows) == 10  # C(5,2) pairs
    by_rank = sorted(rows, key=lambda r: r["p_rank"])
    ps = [r["p2_bp"] for r in by_rank]
    assert ps == sorted(ps)
    flags = [r["discovery"] for r in by_rank]
    # step-up: discoveries are a prefix of the ranked list
    assert all(a >= b for a, b in zip(flags, flags[1:]))
    # every discovery satisfies its own BH threshold
    for r in by_rank:
        if r["discovery"]:
            assert r["p2_bp"] * 10 <= r["p_rank"] * 500


def test_mantel_haenszel_strata_and_bounds(spark, sf_dir):
    (r,) = load_all()["stats_mantel_haenszel"].builder(spark, sf_dir).collect()
    assert r["n_strata"] == 30
    assert r["sum_num"] >= 0 and r["sum_den"] >= 0
    assert r["or_mh_bp"] >= 0 and r["or_crude_bp"] >= 0


def test_garbage_score_components_bounded(spark, sf_dir):
    rows = load_all()["text_garbage_score"].builder(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r["mean_bad_bp"] <= 10000
        assert 0 <= r["cons_run_docs"] <= r["n_docs"]
        assert 0 <= r["flagged_docs"] <= r["n_docs"]


def test_largest_remainder_alloc_sums_to_budget(spark, sf_dir):
    from cascade_spark.operators.curation import ALLOC_BUDGET
    from cascade_spark.tables import load

    rows = (
        load_all()["pipeline_largest_remainder_alloc"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert sum(r["alloc"] for r in rows) == ALLOC_BUDGET
    n = load(spark, sf_dir, "documents").count()
    for r in rows:
        # alloc never off by more than 1 from the exact share
        assert abs(r["alloc"] - ALLOC_BUDGET * r["n_docs"] / n) < 1


# --- wave 13: threshold sweep / rejection sampling / seasonality ------------


def test_dedup_sweep_monotone_in_threshold(spark, sf_dir):
    rows = (
        load_all()["similarity_dedup_threshold_sweep"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert [r["thr_tenths"] for r in rows] == [3, 4, 5, 6, 7]
    pairs = [r["n_pairs"] for r in rows]
    flagged = [r["n_flagged_greedy"] for r in rows]
    # stricter cut can only shrink the surviving set
    assert pairs == sorted(pairs, reverse=True)
    assert flagged == sorted(flagged, reverse=True)
    for r in rows:
        assert r["n_flagged_greedy"] <= r["n_pairs"]


def test_rejection_sampling_tracks_expected_mass(spark, sf_dir):
    rows = (
        load_all()["pipeline_rejection_sampling"].builder(spark, sf_dir).collect()
    )
    assert len(rows) == 20
    tot_docs = sum(r["n_docs"] for r in rows)
    tot_acc = sum(r["n_accepted"] for r in rows)
    tot_exp = sum(r["expected_bp_mass"] for r in rows) / 10000
    # md5 draws are uniform: corpus-level acceptance within 10% of the
    # expected mass (fixture-deterministic, not a statistical flake)
    assert abs(tot_acc - tot_exp) < 0.1 * tot_docs
    for r in rows:
        assert 0 <= r["n_accepted"] <= r["n_docs"]


def test_seasonality_strength_bounded(spark, sf_dir):
    rows = (
        load_all()["events_seasonality_strength"].builder(spark, sf_dir).collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["strength_bp"] <= 10000
        assert r["n_days"] == 30


# --- wave 14: experimentation (KM / CUPED / power) --------------------------


def test_kaplan_meier_monotone_and_censoring_coherent(spark, sf_dir):
    from cascade_spark.tables import load

    rows = load_all()["events_kaplan_meier"].builder(spark, sf_dir).collect()
    assert rows
    s = [r["survival"] for r in rows]
    assert all(0.0 <= v <= 1.0 for v in s)
    assert s == sorted(s, reverse=True)  # survival never increases
    n_users = (
        load(spark, sf_dir, "events")
        .filter("user_id IS NOT NULL")
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[0]["n_risk"] == n_users
    assert sum(r["deaths"] + r["censored"] for r in rows) == n_users
    # with censoring, survival must sit at or above the uncensored
    # lifespan share at every observed time
    at_risk_after = n_users
    for r in rows:
        at_risk_after -= r["deaths"] + r["censored"]
        # survival is rounded to 6 dp — allow that rounding in the bound
        assert r["survival"] * n_users >= at_risk_after - 1e-5 * n_users - 1e-6


def test_cuped_theta_and_reduction_consistent(spark, sf_dir):
    (r,) = (
        load_all()["events_cuped_variance_reduction"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert r["n_users"] > 0
    assert 0 <= r["var_reduction_bp"] <= 10000  # rho^2 in [0, 1]
    # theta and reduction share cov's sign structure: reduction 0 iff cov 0
    if r["var_reduction_bp"] == 0:
        assert r["theta_bp"] == 0


def test_sample_size_matches_python_formula(spark, sf_dir):
    from math import ceil

    (r,) = (
        load_all()["stats_sample_size_two_proportions"]
        .builder(spark, sf_dir)
        .collect()
    )
    p1, p2 = r["p1_bp"], r["p2_bp"]
    if p1 != p2:
        expect = ceil(
            28016 * 28016 * (p1 * (10000 - p1) + p2 * (10000 - p2))
            / (10**8 * (p1 - p2) ** 2)
        )
        assert r["n_per_arm"] == expect
        assert r["n_per_arm"] > 0


# --- wave 15: multimodal rotate/mirror --------------------------------------


def test_rotate_mirror_weighted_checksums_match_reference(spark, sf_dir):
    """Pure-python reference for the index maps, plus the permutation
    property (rotation preserves the multiset of pixels, so the plain
    sum is invariant — the weighted sum must NOT be, except for
    degenerate constant images)."""
    from cascade_spark.operators.multimodal_extra import rotate90_cw_weighted

    def ref(doc_id):
        w, h = 4 + doc_id % 13, 3 + doc_id % 7
        px = [(doc_id * 31 + i) % 256 for i in range(3 * w * h)]

        def src_rot(ip):
            pix, c = divmod(ip, 3)
            yp, xp = divmod(pix, h)
            return 3 * ((h - 1 - xp) * w + yp) + c

        def src_mir(ip):
            pix, c = divmod(ip, 3)
            y, xp = divmod(pix, w)
            return 3 * (y * w + (w - 1 - xp)) + c

        rot = sum(i * px[src_rot(i)] for i in range(3 * w * h))
        mir = sum(i * px[src_mir(i)] for i in range(3 * w * h))
        return w, h, rot, mir

    for doc_id in (0, 7, 42, 101):
        w, h, rot, mir = ref(doc_id)
        gw, gh, ow, oh, grs, gms = rotate90_cw_weighted(doc_id)
        assert (gw, gh, ow, oh) == (w, h, h, w)
        assert grs == rot and gms == mir


def test_rotate_query_preserves_pixel_multiset(spark, sf_dir):
    rows = (
        load_all()["multimodal_image_rotate"].builder(spark, sf_dir).limit(10).collect()
    )
    ppm = {
        r["doc_id"]: r
        for r in load_all()["multimodal_decode_ppm"]
        .builder(spark, sf_dir)
        .limit(10)
        .collect()
    }
    for r in rows:
        assert r["out_width"] == r["height"] and r["out_height"] == r["width"]
        assert r["doc_id"] in ppm


# --- wave 16: Wilson / bounce / bus time seek --------------------------------


def test_wilson_interval_brackets_p_hat(spark, sf_dir):
    rows = load_all()["stats_wilson_interval"].builder(spark, sf_dir).collect()
    assert len(rows) == 5
    assert abs(sum(r["p_hat"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0.0 <= r["wilson_lo"] <= r["p_hat"] <= r["wilson_hi"] <= 1.0


def test_bounce_rate_sessions_reconcile_with_sessionize(spark, sf_dir):
    by_entry = (
        load_all()["events_bounce_rate_by_entry"].builder(spark, sf_dir).collect()
    )
    sessions = load_all()["events_sessionize_gap"].builder(spark, sf_dir).collect()
    assert sum(r["n_sessions"] for r in by_entry) == len(sessions)
    n_bounce_truth = sum(1 for s in sessions if s["n_events"] == 1)
    assert sum(r["n_bounces"] for r in by_entry) == n_bounce_truth


def test_bus_time_seek_consumes_suffix_only(spark, sf_dir):
    rows = load_all()["bus_seek_by_timestamp"].builder(spark, sf_dir).collect()
    assert rows and len(rows) <= 4
    from cascade_spark.tables import load

    n = load(spark, sf_dir, "events").count()
    consumed = sum(r["n_consumed"] for r in rows)
    # the seek starts mid-log: strictly fewer than all, more than none
    assert 0 < consumed < n
    for r in rows:
        assert r["start_offset"] >= 0


# --- wave 17: modularity / overlap chunking ----------------------------------


def test_modularity_in_valid_range_and_reconciles_with_lpa(spark, sf_dir):
    (r,) = load_all()["graph_modularity_score"].builder(spark, sf_dir).collect()
    # Q in [-1/2, 1); bp scale
    assert -5000 <= r["q_bp"] < 10000
    assert 0 <= r["intra_edges"] <= r["n_edges"]
    lpa = load_all()["graph_label_propagation"].builder(spark, sf_dir).collect()
    assert r["n_communities"] == len(lpa)


def test_chunk_overlap_mass_and_counts(spark, sf_dir):
    from cascade_spark.operators.curation import CHUNK_SIZE, CHUNK_STRIDE
    from cascade_spark.tables import load
    from pyspark.sql import functions as F

    rows = (
        load_all()["pipeline_chunk_overlap_windows"].builder(spark, sf_dir).collect()
    )
    assert len(rows) == 20
    docs = (
        load(spark, sf_dir, "documents")
        .select("source", F.size(F.split("text", " ")).alias("w"))
        .collect()
    )
    import collections

    expect_chunks = collections.Counter()
    for d in docs:
        w = d["w"]
        n = 1 if w <= CHUNK_SIZE else -(-(w - CHUNK_SIZE) // CHUNK_STRIDE) + 1
        expect_chunks[d["source"]] += n
    for r in rows:
        assert r["n_chunks"] == expect_chunks[r["source"]]
        # overlap adds mass, never removes it
        assert r["overlap_words"] >= 0
        assert r["chunk_word_mass"] >= r["overlap_words"]


def test_ljung_box_components_coherent(spark, sf_dir):
    (r,) = load_all()["stats_ljung_box"].builder(spark, sf_dir).collect()
    assert r["n_days"] == 30
    assert r["q_bp"] >= 0
    for L in range(1, 8):
        assert -10000 <= r[f"rho{L}_bp"] <= 10000
    # Q reconstruction from the reported rhos (the declared formula)
    n = r["n_days"]
    q = n * (n + 2) * sum(
        (r[f"rho{L}_bp"] ** 2) // (n - L) for L in range(1, 8)
    ) // 10000
    assert r["q_bp"] == q


# --- wave 19: ITS / overmerge audit ------------------------------------------


def test_its_jump_reconstruction(spark, sf_dir):
    (r,) = load_all()["events_intervention_its"].builder(spark, sf_dir).collect()
    assert r["n_pre"] + r["n_post"] == 30
    assert r["level_jump_bp"] == r["post_start_fit_bp"] - r["pre_end_fit_bp"]


def test_overmerge_audit_reconciles_with_semantic_dedup(spark, sf_dir):
    (r,) = load_all()["dedup_overmerge_audit"].builder(spark, sf_dir).collect()
    clusters = (
        load_all()["similarity_semantic_dedup"].builder(spark, sf_dir).collect()
    )
    assert r["n_clusters"] == len(clusters)
    assert r["n_clustered"] == sum(c["n_vecs"] for c in clusters)
    assert r["total_pairs"] == sum(
        c["n_vecs"] * (c["n_vecs"] - 1) // 2 for c in clusters
    )
    # every direct edge lies inside some cluster
    assert 0 <= r["transitive_pairs"] == r["total_pairs"] - r["direct_pairs"]
    assert 0 <= r["overmerge_bp"] <= 10000


# --- wave 20: ICC / group k-fold ---------------------------------------------


def test_icc_matches_python_anova_reference(spark, sf_dir):
    import collections
    import statistics

    from cascade_spark.tables import load
    from pyspark.sql import functions as F

    (r,) = load_all()["stats_icc_oneway"].builder(spark, sf_dir).collect()
    rows = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    days = {x["day"] for x in rows}
    groups = collections.defaultdict(dict)
    for x in rows:
        groups[x["event_type"]][x["day"]] = x["count"]
    series = {
        et: [g.get(d, 0) for d in sorted(days)] for et, g in groups.items()
    }
    k, n = len(series), len(days)
    gm = sum(map(sum, series.values())) / (n * k)
    ssb = sum(n * (statistics.mean(g) - gm) ** 2 for g in series.values())
    ssw = sum(
        sum((x - statistics.mean(g)) ** 2 for x in g) for g in series.values()
    )
    msb, msw = ssb / (k - 1), ssw / (k * (n - 1))
    icc = (msb - msw) / (msb + (n - 1) * msw)
    assert r["icc_bp"] == int(icc * 10000)  # truncation toward zero


def test_group_kfold_partitions_users_exactly(spark, sf_dir):
    from cascade_spark.tables import load

    rows = load_all()["pipeline_group_kfold"].builder(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events").filter("user_id IS NOT NULL")
    assert sum(r["n_users"] for r in rows) == ev.select("user_id").distinct().count()
    assert sum(r["n_events"] for r in rows) == ev.count()
    assert sum(r["user_id_checksum"] for r in rows) == (
        ev.selectExpr("CAST(SUM(DISTINCT user_id) AS BIGINT)").first()[0]
    )


# --- wave 21: mu-law / KMV ---------------------------------------------------


def test_mulaw_matches_reference_scalar_impl(spark, sf_dir):
    """Scalar ITU reference (the canonical table-free form) vs the
    vectorized numpy implementation on boundary inputs."""
    import numpy as np

    from cascade_spark.operators.multimodal_extra import mulaw_encode

    def scalar_mulaw(x):
        sign = 0x80 if x < 0 else 0
        mag = min(abs(x), 32635) + 132
        seg = 0
        for s, lo in enumerate([256, 512, 1024, 2048, 4096, 8192, 16384]):
            if mag >= lo:
                seg = s + 1
        mant = (mag >> (seg + 3)) & 0x0F
        return (~(sign | (seg << 4) | mant)) & 0xFF

    probes = np.array(
        [-32768, -32636, -32635, -8193, -256, -1, 0, 1, 123, 255, 256,
         8158, 32635, 32767],
        dtype=np.int64,
    )
    got = mulaw_encode(probes)
    for x, g in zip(probes.tolist(), got.tolist()):
        assert g == scalar_mulaw(x), x
    # all codes are bytes; silence (0) maps to 0xFF
    assert scalar_mulaw(0) == 0xFF


def test_kmv_estimate_brackets_truth(spark, sf_dir):
    (r,) = load_all()["agg_kmv_distinct_sketch"].builder(spark, sf_dir).collect()
    assert r["k_used"] == min(16, r["n_true"])
    # KMV with k=16 has ~25% relative error; the md5 family is fixed so
    # this is a deterministic fixture property, not a statistical flake
    assert 0 < r["kmv_estimate"] < 4 * r["n_true"] + 16
    assert r["n_true"] // 4 <= r["kmv_estimate"] or r["n_true"] <= 16


def test_arrow_udtf_expansion_counts(spark, sf_dir):
    from cascade_spark.tables import load
    from pyspark.sql import functions as F

    df = load_all()["udtf_arrow_ngram_expand"].builder(spark, sf_dir)
    n_out = df.count()
    expect = (
        load(spark, sf_dir, "documents")
        .select(F.greatest(F.size(F.split("text", " ")) - 2, F.lit(0)).alias("g"))
        .agg(F.sum("g"))
        .first()[0]
    )
    assert n_out == expect


# --- wave 23: CvM / greedy coverage ------------------------------------------


def test_cvm_matches_python_rank_reference(spark, sf_dir):
    from cascade_spark.tables import load
    from pyspark.sql import functions as F

    (r,) = load_all()["stats_cvm_two_sample"].builder(spark, sf_dir).collect()
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("y"),
        )
        .collect()
    )
    xs = sorted(d["x"] for d in daily)
    ys = sorted(d["y"] for d in daily)
    pooled = sorted(xs + ys)

    def midrank(v):
        lo = sum(1 for p in pooled if p < v)
        eq = sum(1 for p in pooled if p == v)
        return lo + (eq + 1) / 2

    n, m = len(xs), len(ys)
    u = n * sum((midrank(v) - (i + 1)) ** 2 for i, v in enumerate(xs)) + m * sum(
        (midrank(v) - (j + 1)) ** 2 for j, v in enumerate(ys)
    )
    assert r["u4"] == int(4 * u)
    N = n + m
    t_exact = (3 * r["u4"] - 2 * n * m * (4 * n * m - 1)) / (12 * n * m * N)
    assert r["t_bp"] == int(t_exact * 10000)  # truncation parity


def test_greedy_coverage_is_greedy_and_saturates(spark, sf_dir):
    from cascade_spark.tables import load
    from pyspark.sql import functions as F

    rows = load_all()["pipeline_greedy_coverage"].builder(spark, sf_dir).collect()
    assert rows, "at least one round must select"
    gains = [r["new_words"] for r in rows]
    assert gains == sorted(gains, reverse=True)  # greedy gains never increase
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .count()
    )
    assert rows[-1]["cum_words"] <= vocab
    assert rows[-1]["cum_words"] == sum(gains)
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))


# --- wave 24: MCC / Cochran-Armitage / wholetext -----------------------------


def test_mcc_consistent_with_confusion_matrix(spark, sf_dir):
    import math

    from cascade_spark.tables import load

    (r,) = load_all()["stats_mcc_matthews"].builder(spark, sf_dir).collect()
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == load(
        spark, sf_dir, "documents"
    ).count()
    assert -1.0 <= r["mcc"] <= 1.0
    den = (
        (r["tp"] + r["fp"]) * (r["tp"] + r["fn"])
        * (r["tn"] + r["fp"]) * (r["tn"] + r["fn"])
    )
    if den:
        expect = (r["tp"] * r["tn"] - r["fp"] * r["fn"]) / math.sqrt(den)
        assert abs(r["mcc"] - expect) < 1e-6


def test_cochran_armitage_nonnegative(spark, sf_dir):
    (r,) = load_all()["stats_cochran_armitage"].builder(spark, sf_dir).collect()
    assert 0 < r["r"] < r["n"]
    assert r["z2_bp"] >= 0


def test_wholetext_preserves_embedded_newlines(spark, sf_dir):
    from cascade_spark.sources.scans import WHOLETEXT_MOD
    from cascade_spark.tables import load
    from pyspark.sql import functions as F

    rows = load_all()["scan_text_wholetext"].builder(spark, sf_dir).collect()
    sel = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % WHOLETEXT_MOD == 0
    )
    assert sum(r["n_files"] for r in rows) == sel.count()
    # char mass includes the header + the embedded newline per file
    expect = sel.select(
        (F.length("text") + F.length("source") + 1).alias("c")
    ).agg(F.sum("c")).first()[0]
    assert sum(r["total_chars"] for r in rows) == expect


# --- wave 25: G-test / dispersion / rich club / grayscale / PMI --------------


def test_g_test_additive_and_signed(spark, sf_dir):
    rows = load_all()["stats_g_test"].builder(spark, sf_dir).collect()
    assert len(rows) == 35  # 5 types x 7 weekdays
    g = sum(r["g_contrib"] for r in rows)
    # total G of a real contingency table is nonnegative (it is 2*KL)
    assert g >= -1e-4


def test_poisson_dispersion_flags_overdispersion(spark, sf_dir):
    rows = load_all()["stats_poisson_dispersion"].builder(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["dispersion_bp"] >= 0
        assert r["poisson_expectation_bp"] == (r["n_days"] - 1) * 10000


def test_rich_club_monotone_membership(spark, sf_dir):
    rows = load_all()["graph_rich_club"].builder(spark, sf_dir).collect()
    ns = [r["n_k"] for r in rows]
    assert ns == sorted(ns, reverse=True)  # higher k -> smaller club
    for r in rows:
        assert 0 <= r["phi_bp"] <= 10000
        assert 2 * r["e_k"] <= r["n_k"] * max(r["n_k"] - 1, 1)


def test_grayscale_luma_bounded(spark, sf_dir):
    rows = (
        load_all()["multimodal_image_grayscale"].builder(spark, sf_dir).limit(20).collect()
    )
    for r in rows:
        assert 0 <= r["luma_max"] <= 255
        assert r["luma_sum"] <= 255 * r["n_pixels"]


def test_pmi_ranking_matches_lift_order(spark, sf_dir):
    rows = load_all()["text_pmi_collocations"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= 15
    import math

    for r in rows:
        # reported PMI must equal ln(lift) of the exact counts
        n_docs = None  # implied by pmi equation; verify internal consistency
        assert r["c_xy"] <= min(r["c_x"], r["c_y"])
        # pmi = ln(c_xy * N / (c_x c_y)); recover N and check integrality
        n_est = math.exp(r["pmi"]) * r["c_x"] * r["c_y"] / r["c_xy"]
        assert abs(n_est - round(n_est)) < 0.01
