"""Partition-invariance audit for the round-5 registry additions: every
query must produce IDENTICAL rows under a different shuffle-partition
count (the class of bug the oracle gate can't see if both runs happen
to use the same layout — float fold order, first()-nondeterminism,
rank ties)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

NEW_R5 = [
    "session_attribution",
    "value_tier_report",
    "semantic_dedup",
    "sketch_accuracy_audit",
    "doc_scrubbed_spans",
    "source_quota_cap",
    "doc_epoch_mixture",
    "incremental_novel_docs",
    "incremental_novel_near",
    "curated_corpus",
    "salted_join_segments",
    "doc_duplicated_spans",
    "forecast_hw_audit",
    "funnel_latency",
    "bpe_audit",
    # late round-5 batch
    "leakage_safe_split",
    "event_type_drift",
    "pq_recall_audit",
    "doc_feature_hashes",
    "ivfadc_recall",
    "hourly_agg_incremental",
    "dedup_cluster_sizes",
    "token_heavy_hitters",
    "doc_sparse_cosine",
    "hourly_count_decomposition",
    "referential_audit",
    "doc_sample_fixed",
    "dedup_corpus_best",
    "doc_curriculum",
    "value_drift",
    "doc_containment_pairs",
    # round-7 additions
    "semantic_dedup_auto",
    "orders_scd2",
    "embedding_rp_audit",
    "kcenter_selection",
    "doc_weighted_sample",
    "site_trend_slopes",
    "corpus_collocations",
    "hourly_anomalies",
    "doc_search_tfidf",
    "doc_search_bm25",
    "part_fuzzy_pairs",
    "doc_lm_perplexity",
    "corpus_textrank",
    "incremental_join_revenue",
    "hybrid_search_rrf",
    "hourly_cusum",
    "forecast_conformal",
    "doc_negatives",
    "source_dataset_cards",
    "corpus_triangles",
    "doc_search_prf",
    "doc_search_prf_indexed",
    "doc_frequent_pairs",
    "embedding_drift",
    "scd2_point_lookup",
    "source_distinctive_terms",
    "vocab_growth",
    "vocab_coverage",
    "minhash_accuracy_audit",
    "ann_hard_negatives",
    # round-8 additions
    "part_fuzzy_pairs_auto",
    "doc_search_indexed",
    "click_attribution_outer",
    "media_jpeg420_audit",
    "media_jpeg_prog_audit",
    "media_jpeg12_audit",
    "doc_winnow_pairs",
    "corpus_zipf_fit",
    "order_size_price_spearman",
    "incremental_join_deletes",
    "join_size_cms_audit",
    "doc_split_ks",
    "media_gif_audit",
    "source_lang_entropy",
    "quantity_weighted_median",
    # round-8 second half
    "hourly_acf",
    "price_benford",
    "corpus_kcore",
    "audio_frame_features",
    "value_mad_outliers",
    "hourly_ccf",
    "part_sorted_neighbors",
    "source_kl",
    "corpus_communities",
    "type_audience_similarity",
    "value_equidepth_bins",
    "ann_binary_topk",
    "orders_zorder_stats",
    "order_skyline",
    "value_quantile_match",
    # round 9
    "revenue_rollup",
    # round 11
    "source_temperature_mix",
    "doc_ccnet_buckets",
    "ann_mips_topk",
    "ann_mips_ivf_topk",
    "media_jpeg411_audit",
    # round 12
    "pq_mips_recall_audit",
    "ivfadc_mips_recall_audit",
    "ann_int8_mips_topk",
    "ann_int8_packed_mips_topk",
    "embedding_mips_pairs",
    "ann_mips_lsh_pairs",
    # round 13
    "ann_ivf_sq8_mips_topk",
    "ann_ivf_sq8r_mips_topk",
    "forecast_backtest",
    "forecast_champion",
    "forecast_champion_forward",
]


@pytest.mark.parametrize("name", NEW_R5)
def test_rows_identical_across_partitionings(spark, name):
    q = entry_mod.queries()[name]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        a = [tuple(r) for r in q(spark, SF).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = [tuple(r) for r in q(spark, SF).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted(map(repr, a)) == sorted(map(repr, b))


# Entries backed by the scored top-k skeleton (operators/similarity.py):
# their per-batch top-k cut runs once per Arrow batch, which
# shuffle.partitions never changes — only the batch size does.
SCORED_TOPK = [
    "ann_topk",
    "ann_mips_topk",
    "ann_ivf_topk",
    "ann_mips_ivf_topk",
    "ann_int8_mips_topk",
    "ann_ivf_sq8_mips_topk",
    "ann_ivf_sq8r_mips_topk",
    "pq_recall_audit",
    "ivfadc_recall",
]


@pytest.mark.parametrize("name", SCORED_TOPK)
def test_rows_identical_across_arrow_batch_sizes(spark, name):
    q = entry_mod.queries()[name]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        a = [tuple(r) for r in q(spark, SF).collect()]
        spark.conf.set(key, "7")
        b = [tuple(r) for r in q(spark, SF).collect()]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert a and a == b
