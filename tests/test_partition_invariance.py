"""Results must not depend on the shuffle width.

A cluster operator retunes spark.sql.shuffle.partitions per deployment
(and AQE retunes it per stage at runtime); any query whose OUTPUT changes
under a different partition count has an order-dependence bug — float
reduction order, a window missing a deterministic sort, a limit without
an ordering. Run representative queries under two widths and require
row-identical results.

Queries chosen to cover the shapes where partitioning could leak in:
the imputation cascade (window frames over a shared sort),
MinHash+LSH (band self-join + distinct), sequence packing (cumulative
window), the decimal-exact pricing aggregate, and the QAQC chain
(chained windows + median).
"""

from __future__ import annotations

import pytest

from traffic_data_pipeline_spark.plans.queries import QUERIES

CASES = [
    "sensor_impute",
    "dedup_minhash_lsh",
    "doc_pack_sequences",
    "pricing_summary",
    "node_qaqc",
    # round-3 mining ops: fixed-point iteration (pagerank), decimal dot
    # accumulation under a cluster self-join (semantic), hashed-prefix
    # candidate generation (containment)
    "events_pagerank",
    "dedup_semantic",
    "doc_ngram_containment",
    # round-3 analysis ops: sweep-line windows (concurrency), forward+
    # reverse carry windows (interpolation), degree-ordered wedge joins
    # (cluster density)
    "events_concurrency",
    "sensor_interpolate",
    "dedup_cluster_density",
    "label_centroid_similarity",
    # round-4: the dedup-free binned range join (per-pair bucket
    # assignment must not depend on which partition exploded the row)
    "session_surge_overlap",
    # round-4: 128-bit decimal moment accumulation (order-free sums)
    "sensor_volume_trend",
    # round-4 staged: block-partitioned SNM ranks (rank must not depend
    # on which partition sorted the block), decimal Gram accumulation,
    # CC labels over the cached pair stream, decayed decimal sums
    "dedup_sorted_neighborhood",
    "embedding_pca_step",
    "split_cluster_assign",
    "events_decayed_engagement",
    # round-4 staged batch 2: decimal log-weight sums under a broadcast
    # bucket join (dsir), collect_set order hidden by array_sort before
    # the in-row pair explode (winnowing), min-doc first-occurrence
    # regrouping (novelty), decimal sqrt normalizer (temperature)
    "doc_dsir_importance",
    "doc_winnowing_fingerprint",
    "doc_ngram_novelty",
    "lang_temperature_weights",
    # decimal partials merged across an arbitrary split must not depend
    # on which partition aggregated which side
    "events_rollup_merge",
    # round-4 staged batch 3: first-occurrence window + position-ordered
    # reassembly (paragraph dedup), per-source running-sum file cut
    # (compaction), decimal signed-sum fold (JL projection); the two
    # pure-map ops (c4/gopher) are trivially invariant and skipped
    "doc_paragraph_dedup",
    "shard_compaction_plan",
    "embedding_jl_projection",
    # round-4 staged batch 4: sketch cells summed across arbitrary
    # partition splits then min-probed (cms), in-row pair/median fold
    # after a collect_list whose order sort_array hides (theilsen),
    # broadcast-argmin code assignment + decimal ADC re-sum (pq),
    # conditional window-sums riding rank exchanges (margin), rank
    # windows + DECIMAL(38,0) Gini moments (skew report)
    "events_heavy_hitters_cms",
    "sensor_theilsen_trend",
    "embedding_pq_adc",
    "embedding_margin_align",
    "events_key_skew_report",
    # full-outer snapshot compare: classification must not depend on
    # which side of the join a partition built
    "corpus_snapshot_diff",
    # two-pass distributed cummax: the frontier each row sees must not
    # depend on how arrival shards land on partitions
    "events_late_arrival_audit",
    # round-4 staged batch 5: remainder-rank windows over the tiny
    # per-lang frame fed by a decimal sqrt normalizer (allocation), and
    # percentile cutpoints computed from an exact per-group buffer then
    # broadcast (perplexity buckets); the k-anonymity report is two
    # nested integer aggregates (trivially invariant) and is skipped
    "mixture_budget_allocate",
    "doc_perplexity_buckets",
    # iterative peel over checkpointed edge frames: the surviving core
    # and its degrees must not depend on how rounds were partitioned
    "dedup_graph_kcore",
    # round-5 staged r6: decimal rank-weighted Gini sums under per-type
    # rank windows (concentration), Poisson-bootstrap resamples whose
    # medians must not depend on which partition replicated which row,
    # in-row triangle Gram accumulation (whitening), lexicographic
    # struct-max last-touch under an AQE-variable join side
    # (attribution), per-user LEAD sequences (markov), decimal
    # silhouette means off a broadcast centroid matrix
    "events_spend_concentration",
    "events_median_bootstrap_ci",
    "embedding_whitening_stats",
    "events_attribution",
    "events_markov_transitions",
    "embedding_silhouette_by_label",
    # stepwise-quantized multiplicative weights: the normalizer's
    # decimal terms merge across arbitrary partial splits
    "corpus_doremi_step",
    # sliding RANGE frame + per-user max + argmax-min fold must not
    # depend on which partition sorted the user's seconds
    "events_burst_flags",
    # round-6 staged r7: gaps-and-islands span merges whose lag frontier
    # must not depend on which partition sorted the positions (exact
    # spans), md5-ranked in-stratum reservoir under a broadcast quota
    # (sample), 40 decimal-quantized value iterations over checkpointed
    # K-row frames (markov), banded adaptive-width code aggregates + the
    # new ANN margin twin's candidate windows
    "dedup_exact_substring_spans",
    "corpus_stratified_sample",
    "events_markov_removal_effect",
    "embedding_margin_align_ann",
    # decimal centroid moments merged across arbitrary splits; chunk
    # votes + doc-keyed majority windows
    "embedding_centroid_drift",
    "doc_language_purity",
    # decimal PSI terms and OLS moment sums merged across arbitrary
    # partial splits; the anchor rank must not depend on partitioning
    "corpus_token_psi_drift",
    "part_price_elasticity",
    # DECIMAL(38,0) cross-series moments merged across splits; the MMR
    # greedy orbit (pool cut + argmax rounds) must not depend on how
    # the relevance scan was partitioned
    "events_lead_lag_correlation",
    "embedding_mmr_topk",
    # the calibration order statistic (rank window over residuals) must
    # not depend on how the daily-count frame was partitioned
    "events_conformal_volume",
    # the greedy merge orbit folds vocab-frame pair counts each round;
    # variance decimal sums merge across arbitrary splits
    "bpe_train_merges",
    "events_weekday_decomposition",
    # the prefix-triangle EWMA term sums and the flag compares must not
    # depend on how the daily-count frame was partitioned
    "events_ewma_control_chart",
    # the bucket-pruned pool cut + the shared greedy orbit
    "embedding_mmr_topk_ann",
    # --- round-8 staged: the rank/argmax/moment folds that could in
    # principle see partitioning (quantile buckets, nearest-rank
    # percentiles, tail order statistics, changepoint argmax, recall
    # rank replay, decimal moment self-joins) ---
    "orders_rfm_segmentation",
    "supplier_lead_time_percentiles",
    "events_user_tail_index",
    "events_changepoint_daily",
    "embedding_ann_recall_curve",
    "part_cross_price_elasticity",
    "embedding_pq_distortion_report",
    "lineitem_basket_lift",
    # --- round-9 staged: decimal TVD term sums merged across arbitrary
    # splits (t-closeness), CC labels off the iterative fixpoint
    # (impact_cc); the pure-count audits (ldiversity, by_source) are
    # trivially invariant and skipped, the streaming monitors are
    # exercised by their crash-replay equality tests ---
    "events_user_tcloseness",
    "dedup_impact_by_lang_cc",
]


def _rows(df):
    cols = sorted(df.columns)
    recs = [tuple(str(r[c]) for c in cols) for r in df.collect()]
    return sorted(recs)


@pytest.mark.parametrize("name", CASES)
def test_partition_invariant(spark, sf_dir, name):
    from traffic_data_pipeline_spark.functions.execution import release

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        fn = QUERIES[name]
        spark.conf.set(key, "3")
        narrow = _rows(fn(spark, sf_dir))
        release()
        spark.conf.set(key, "17")
        wide = _rows(fn(spark, sf_dir))
        release()
    finally:
        spark.conf.set(key, prev)
    assert narrow == wide, f"{name}: output depends on shuffle width"
