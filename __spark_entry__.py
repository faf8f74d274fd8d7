"""Driver contract for the spark-graft builder (PySpark target).

Wired to the cascade_spark declared-query registry: every operator from
SURVEY.md §2B registers a named (spark builder, DuckDB oracle) pair via
``cascade_spark.plans.registry.register``; this module just exposes them
in the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# importable regardless of the harness's working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from cascade_spark.plans.registry import load_all

    return load_all()["agg_grouped_q1"].builder(spark, "/root/testdata/sf0.001")


# Canonical driver-sample ordering (the driver's CORRECTNESS sampling is
# partial, ~50 of the registry, taken from the front of queries()). This
# list is the oldest-debt-first ordering of every hash-checkable query
# with no green row in the committed CORRECTNESS_r*.json files (newest:
# r13). Names that turned green are pruned from it; the green set only
# grows, so a pruned name can never re-enter the front. The LIVE front
# is computed per call by _front(): entries green in a newer artifact
# are dropped, and hash-checkable queries registered after this list
# was pinned are appended (name-sorted). Rows-only queries
# (oracle omitted BY DESIGN: approximate or not-SQL-expressible) never
# enter the front so no sample slot is burned on a perpetual `no_oracle`
# row. The full registry stays oracle-gated in pytest
# (tests/test_oracle.py).
_FRONT_ORDER: list[str] = [
    "stream_stream_join",
    "stream_stream_left_outer",
    "stream_rate_source",
    "stream_foreachbatch_sink",
    "stream_foreachbatch_upsert",
    "stream_stateful_counter",
    "stream_stateful_session_timeout",
    "stream_stateful_topk",
    "stats_fleiss_kappa",
    "agg_kmv_jaccard",
    "stats_fisher_exact",
    "stats_yule_q",
    "stats_phi_coefficient",
    "stats_cohens_h",
    "stats_goodman_kruskal_gamma",
    "stats_somers_d",
    "stats_stuart_tau_c",
    "stats_tschuprow_t",
    "events_attribution_time_decay",
    "events_attribution_position_u",
    "events_rsi_wilder",
    "events_bollinger_breach",
    "events_hurst_rs",
    "events_croston_demand",
    "events_holt_winters",
    "events_kleinberg_burst",
    "analytics_supplier_hhi",
    "analytics_repeat_purchase_rate",
    "stats_chi2_goodness_of_fit",
    "multimodal_image_entropy",
    "events_seasonal_index_dow",
    "analytics_pareto_frontier",
    "events_cross_correlation",
    "graph_katz_centrality",
    "graph_adamic_adar",
    "graph_landmark_centrality",
    "graph_bipartite_projection",
    "graph_hits_bipartite",
    "text_bigram_perplexity",
    "pipeline_mixture_kl_uniform",
    "stats_levene_mean",
    "agg_pythagorean_means",
    "stats_roc_auc_exact",
    "stats_calibration_ece",
    "stats_brier_score",
    "stats_gains_table",
    "multimodal_image_sobel",
    "multimodal_image_otsu",
    "multimodal_wav_fade",
    "multimodal_video_motion_energy",
    "multimodal_image_dither_bayer",
    "multimodal_image_boxblur",
    "multimodal_wav_clipping_audit",
    "multimodal_wav_peak_normalize",
    "stats_cliffs_delta",
    "stats_vargha_delaney_a",
    "stats_rank_biserial",
    "stats_cronbach_alpha",
    "stats_page_trend",
    "stats_grubbs_outlier",
    "stats_kuiper_two_sample",
    "stats_weighted_kappa",
    "pii_t_closeness_audit",
    "profile_freshness_lag",
    "profile_pk_uniqueness_audit",
    "similarity_mmr_diversify",
    "stats_sprt_sequential",
    "stats_tost_equivalence",
    "stats_beta_binomial_posterior",
    "experiment_hash_bucketing",
    "sql_values_inline_table",
    "sql_lateral_view_outer",
    "pipeline_tokenizer_compare",
    "dedup_cross_source_matrix",
    "agg_multi_distinct_filtered",
    "agg_arg_extrema",
    "dedup_soft_weighting",
    "text_yule_k",
    "text_simpson_diversity",
    "text_hapax_spectrum",
    "text_heaps_fit",
    "text_unigram_entropy",
    "text_js_divergence_sources",
    "text_bm25_topk",
    "text_inverted_index_query",
    "text_winnowing_fingerprint",
    "events_macd",
    "events_stochastic_oscillator",
    "events_aroon",
    "events_donchian_breakout",
    "events_pettitt_changepoint",
    "events_theil_u",
    "events_ulcer_index",
    "events_kama_efficiency",
    "events_rolling_slope",
    "embedding_isotropy_audit",
    "embedding_dim_variance_topk",
    "similarity_ndcg_eval",
    "similarity_hamming_topk",
    "embedding_label_silhouette",
    "embedding_pq_distortion",
    "embedding_random_projection_jl",
    "bus_delete_records",
    "stats_jonckheere_terpstra",
    "stats_ansari_bradley",
    "stats_hash_uniformity_ks",
    "stats_normalized_mutual_info",
    "events_page_hinkley",
    "text_lix_readability",
    "text_ari_coleman_liau",
    "embedding_knn_label_consistency",
    "analytics_dau_mau_stickiness",
    "sql_group_by_ordinal",
    "stats_seasonal_mann_kendall",
    "embedding_centroid_drift_halves",
    "stats_anderson_darling_2s",
    "agg_theta_sketch_distinct",
    "agg_theta_sketch_setops",
    "fn_time_type",
    "fn_scalar_additions_41",
    "sort_collated_order",
    "stream_state_snapshot_read",
]


def _green_queries() -> set[str]:
    """Names with a fully-green row in any driver CORRECTNESS artifact."""
    import glob
    import json

    repo = os.path.dirname(os.path.abspath(__file__))
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if (
                    row.get("hash_match")
                    and row.get("rows_match")
                    and row.get("schema_match")
                ):
                    green.add(name)
    return green


def _front(reg) -> list[str]:
    """The live never-driver-sampled tail, oldest debt first.

    Hash-checkable (oracle-bearing) queries with no green driver row,
    ordered by _FRONT_ORDER; queries registered after the pin was taken
    are appended name-sorted so new surface is sampled first-time too.
    """
    green = _green_queries()
    pinned = set(_FRONT_ORDER)
    front = [
        n
        for n in _FRONT_ORDER
        if n in reg and n not in green and reg[n].oracle is not None
    ]
    front += sorted(
        n
        for n in reg
        if n not in pinned and n not in green and reg[n].oracle is not None
    )
    return front


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from cascade_spark.plans.registry import load_all

    reg = load_all()
    ordered = {n: reg[n].builder for n in _front(reg)}
    ordered.update((n, q.builder) for n, q in reg.items() if n not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; approx/non-SQL ops are omitted
    (driver records rows-only checks for those)."""
    from cascade_spark.plans.registry import load_all

    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}
